package graft.rules

import graft.core.Keywords

/**
 * Canonical rule constants for the extraction engine.
 *
 * The reference (katyLiminche/pdf_parser_app) duplicates these keyword /
 * synonym / pattern tables 6-8x across its parsers; this is the single
 * canonical copy. Each constant cites the reference definition it mirrors
 * (paths relative to /root/reference/pdf_parser_app).
 *
 * These are DATA (the semantics being reproduced), not code.
 */
object Rules {

  // ---- generic text-parser column synonyms (app/pipeline/parser.py:13-32) ----
  val textColumnPatterns: Seq[(String, Keywords)] = Seq(
    "name" -> Keywords("наименование", "название", "товар", "описание", "name", "description", "item", "product"),
    "qty" -> Keywords("количество", "кол-во", "кол", "qty", "quantity", "amount", "шт"),
    "unit" -> Keywords("единица", "ед.изм", "ед", "unit", "measure", "измерение"),
    "price" -> Keywords("цена", "стоимость", "price", "cost", "rate"),
    "currency" -> Keywords("валюта", "currency", "curr", "руб", "usd", "eur"),
    "total" -> Keywords("сумма", "итого", "total", "sum", "amount")
  )

  // ---- universal parser column synonyms (app/pipeline/universal_parser.py:51-59) ----
  val universalColumnSynonyms: Seq[(String, Keywords)] = Seq(
    "number" -> Keywords("№", "номер", "n", "number", "позиция", "поз", "порядковый"),
    "article" -> Keywords("артикул", "код", "article", "code", "sku", "арт", "код товара"),
    "name" -> Keywords("товары", "работы", "услуги", "наименование", "описание", "name", "description", "название", "товар"),
    "qty" -> Keywords("количество", "кол-во", "qty", "amount", "объем", "кол", "к-во", "шт"),
    "unit" -> Keywords("ед", "единица", "изм", "unit", "measure", "единицы", "измерения"),
    "price" -> Keywords("цена", "стоимость", "price", "cost", "тариф", "цена за ед", "цена за единицу"),
    "total" -> Keywords("сумма", "итого", "total", "sum", "стоимость", "сумма с ндс", "сумма без ндс")
  )

  // ---- commercial parser header patterns (app/pipeline/commercial_parser.py:17-24) ----
  val commercialHeaderPatterns: Seq[(String, Keywords)] = Seq(
    "number" -> Keywords("№", "номер", "n", "number", "позиция"),
    "name" -> Keywords("наименование", "название", "описание", "товар", "name", "description"),
    "qty" -> Keywords("кол-во", "количество", "qty", "amount", "объем"),
    "unit" -> Keywords("ед", "единица", "изм", "unit", "measure"),
    "price" -> Keywords("цена", "стоимость", "price", "cost", "тариф"),
    "total" -> Keywords("сумма", "итого", "total", "sum", "стоимость")
  )

  // ---- competitive parser header patterns (app/pipeline/competitive_parser.py:17-46) ----
  val competitiveHeaderPatterns: Seq[(String, Keywords)] = Seq(
    "name" -> Keywords("наименование", "название", "товар", "описание", "name", "description", "item", "product",
      "наименование товара", "название товара", "описание товара"),
    "qty" -> Keywords("количество", "кол-во", "кол", "qty", "quantity", "amount", "шт", "объем",
      "количество товара", "объем поставки"),
    "unit" -> Keywords("единица", "ед.изм", "ед", "unit", "measure", "измерение", "единица измерения", "ед. изм"),
    "price" -> Keywords("цена", "стоимость", "price", "cost", "rate", "тариф",
      "цена за единицу", "стоимость единицы", "цена закупки"),
    "currency" -> Keywords("валюта", "currency", "curr", "руб", "usd", "eur", "рубль", "доллар", "евро"),
    "total" -> Keywords("сумма", "итого", "total", "sum", "amount", "стоимость", "общая сумма", "стоимость позиции"),
    "supplier" -> Keywords("поставщик", "supplier", "vendor", "компания", "организация", "наименование поставщика")
  )

  // ---- invoice column words, tested as an elif chain (invoice_parser.py:93-146;
  // table_extractor.py keeps an identical copy) ----
  val invoiceColumnWords: Seq[(String, Keywords)] = Seq(
    "number" -> Keywords("№", "номер", "позиция"),
    "article" -> Keywords("артикул", "код", "арт"),
    "name" -> Keywords("наименование", "товары", "работы", "услуги", "название"),
    "qty" -> Keywords("количество", "кол-во", "колво"),
    "unit" -> Keywords("ед", "единица", "изм"),
    "price" -> Keywords("цена", "стоимость", "руб"),
    "total" -> Keywords("сумма", "итого", "всего"))

  // ---- header-line indicators ----
  // invoice/universal/supplier-profile variant (invoice_parser.py:424-427)
  val headerLineInvoice: Keywords = Keywords(
    "наименование", "название", "количество", "кол-во", "цена", "стоимость",
    "единица", "валюта", "сумма", "итого", "поставщик", "счет", "оплату")
  // commercial variant (commercial_parser.py:409-412)
  val headerLineCommercial: Keywords = Keywords(
    "наименование", "название", "количество", "кол-во", "цена", "стоимость",
    "единица", "валюта", "сумма", "итого", "поставщик", "коммерческое")
  // competitive variant (competitive_parser.py:512-515)
  val headerLineCompetitive: Keywords = Keywords(
    "наименование", "название", "количество", "кол-во", "цена", "стоимость",
    "единица", "валюта", "сумма", "итого", "поставщик")

  // ---- service-line indicators ----
  // invoice/universal/profile variant (invoice_parser.py:434-438)
  val serviceLineInvoice: Keywords = Keywords(
    "итого", "всего", "сумма", "контракт", "договор", "счет", "фактура",
    "поставщик:", "покупатель:", "дата:", "номер:", "подготовлено:", "для:",
    "инн", "кпп", "бик", "р/с", "банк", "получатель", "плательщик")
  // commercial variant (commercial_parser.py:419-422)
  val serviceLineCommercial: Keywords = Keywords(
    "итого", "всего", "сумма", "контракт", "договор", "счет", "фактура",
    "поставщик:", "покупатель:", "дата:", "номер:", "подготовлено:", "для:")
  // competitive variant (competitive_parser.py:522-525)
  val serviceLineCompetitive: Keywords = Keywords(
    "итого", "всего", "сумма", "контракт", "договор", "счет", "фактура",
    "поставщик:", "покупатель:", "дата:", "номер:")

  // ---- service-row (name-level) indicators ----
  // invoice/universal variant (invoice_parser.py:445-450)
  val serviceRowInvoice: Keywords = Keywords(
    "итого", "всего", "сумма", "наименований", "наименования",
    "корпус", "комната", "дом", "шоссе", "указанные", "цены",
    "скидки", "действуют", "апреля", "года", "подготовлено",
    "инн", "кпп", "бик", "р/с", "банк", "получатель", "плательщик")
  // commercial/competitive variant (commercial_parser.py:429-433, competitive_parser.py:532-535)
  val serviceRowShort: Keywords = Keywords(
    "итого", "всего", "сумма", "наименований", "наименования",
    "корпус", "комната", "дом", "шоссе", "указанные", "цены",
    "скидки", "действуют", "апреля", "года", "подготовлено")

  // ---- item-name service words for strict validation ----
  // universal parser (universal_parser.py:784-791)
  val validationServiceWordsUniversal: Keywords = Keywords(
    "инн", "кпп", "счет", "банк", "бик", "р/с", "к/с", "получатель", "плательщик",
    "оплата", "платеж", "договор", "счет на оплату", "коммерческое предложение",
    "итого", "всего", "сумма", "назначение", "важно", "примечание", "примечания",
    "подготовлено", "для", "от", "дата", "номер", "адрес", "телефон", "email",
    "россия", "область", "край", "город", "улица", "дом", "корпус", "комната",
    "почтовое", "индекс", "код", "вид", "срок", "плат", "наз", "пл", "очер")
  // commercial parser adds ТУ/cert words (commercial_parser.py:485-493)
  val validationServiceWordsCommercial: Keywords =
    Keywords(validationServiceWordsUniversal.words ++ Seq("ту", "технические", "условия", "сертификат", "соответствия"): _*)
  // table_extractor exclude list (table_extractor.py:31-38)
  val excludeWordsTableExtractor: Keywords = validationServiceWordsUniversal
  // precise parser exclude list (precise_table_parser.py:31-39)
  val excludeWordsPrecise: Keywords =
    Keywords(validationServiceWordsUniversal.words ++ Seq("технические", "условия", "сертификат", "соответствия"): _*)

  // ---- best-parser selection service words (universal_parser.py:247-251) ----
  val bestSelectionServiceWords: Keywords = Keywords(
    "инн", "кпп", "счет", "банк", "бик", "р/с", "к/с", "получатель", "плательщик",
    "итого", "всего", "сумма", "ндс", "четыре", "миллио", "на восе", "мьдесят",
    "ве тысячи", "шестьсот", "ьдесят", "семь ру", "блей", "копеек", "копорское",
    "шоссе", "дом", "корпус", "комната", "указанные", "цены", "скидки", "действуют",
    "апреля", "в течение", "дн")

  // best-parser product whitelist (universal_parser.py:256)
  val bestSelectionProductWords: Keywords =
    Keywords("кабель", "сип", "провод", "перевозка", "транспорт")

  // ---- product plausibility patterns (table_extractor.py:17-28) ----
  val productPatterns: Seq[String] = Seq(
    "кабель.*силовой", "кабель.*провод", raw"сип-\d+", "ввг", "ппг",
    "перевозка", "транспорт", "доставка", "услуги", "работы")

  // ---- header-row first-cell indicators ----
  // invoice/universal table header skip (invoice_parser.py:196 / universal_parser.py:583)
  val headerFirstCellInvoice: Keywords =
    Keywords("№", "номер", "артикул", "товары", "количество", "цена", "сумма")
  val headerFirstCellUniversal: Keywords =
    Keywords("№", "номер", "артикул", "товары", "количество", "цена", "сумма", "наименование")
  // commercial table header skip (commercial_parser.py:168)
  val headerFirstCellCommercial: Keywords = Keywords("наименование", "кол-во", "цена", "сумма", "№")
  // table_extractor / profile header row (table_extractor.py:177, supplier_profiles.py:128)
  val headerFirstCellTable: Keywords =
    Keywords("№", "номер", "артикул", "товары", "количество", "цена", "сумма", "наименование")
  // precise parser adds "наимен" (precise_table_parser.py:250)
  val headerFirstCellPrecise: Keywords =
    Keywords("№", "номер", "артикул", "товары", "количество", "цена", "сумма", "наименование", "наимен")

  // ---- units / currencies ----
  // analyze-row-structure unit list (universal_parser.py:416)
  val analyzeUnits: Seq[String] = Seq("шт", "кг", "м", "л", "км", "м2", "м3", "тонн", "штук")
  // token-class unit substrings (competitive_parser.py:314,646)
  val tokenUnits: Keywords = Keywords("шт", "кг", "м", "л", "pcs", "kg", "m", "l")
  // token-class currency substrings (competitive_parser.py:321,653)
  val tokenCurrencies: Keywords = Keywords("RUB", "USD", "EUR", "РУБ", "ДОЛЛ", "ЕВРО")

  // ---- document-type detection ----
  // simple 3-class variant (universal_parser.py:837-839)
  val docTypeCommercial: Keywords = Keywords("коммерческое предложение", "предложение", "поставщик", "товар")
  val docTypeInvoice: Keywords = Keywords("счет на оплату", "счет №", "оплата", "плательщик", "получатель")
  val docTypeCompetitive: Keywords = Keywords("конкурентная процедура", "тендер", "аукцион", "заявка")
  // 4-class scored variant (ocr_processor.py:227-248)
  val scoreInvoiceKeywords: Keywords = Keywords(
    "счет", "счет-фактура", "invoice", "bill", "оплата", "платеж",
    "ндс", "итого", "сумма", "к оплате", "банковские реквизиты")
  val scoreCommercialKeywords: Keywords = Keywords(
    "коммерческое предложение", "commercial proposal", "предложение",
    "условия поставки", "сроки поставки", "гарантия", "спецификация")
  val scoreCompetitiveKeywords: Keywords = Keywords(
    "конкурс", "тендер", "аукцион", "заявка", "предложение",
    "техническое задание", "тз", "спецификация")
  val scoreContractKeywords: Keywords = Keywords(
    "договор", "контракт", "соглашение", "contract", "agreement",
    "стороны", "обязательства", "ответственность", "форс-мажор")

  // ---- quality gates ----
  // OCR-needed gate keywords (enhanced_extractor.py:263)
  val qualityGateKeywords: Keywords = Keywords("товар", "цена", "количество", "сумма", "итого", "ндс")
  // validation key elements (ocr_processor.py:299)
  val validationKeyElements: Keywords = Keywords("товар", "цена", "количество", "сумма", "итого")

  // ---- thresholds (app/utils/config.py:12-39) ----
  val autoMatchThreshold = 90.0
  val suggestThreshold = 70.0
  val minTextLength = 20
  val minLineLength = 10

  // ---- regex pattern strings (ported verbatim as data; compiled in core.Patterns) ----
  // TextParser patterns (parser.py:53-71)
  val unitAlt = raw"шт|кг|м|л|pcs|kg|m|l|шт\.|кг\.|м\.|л\."
  val unitAltLong = unitAlt + raw"|тонн|тонны|штук|штуки"
  val currencyAlt = raw"руб|₽|USD|EUR|руб\.|usd|eur"

  val textP1 =
    raw"(?<name>.+?)\s+(?<qty>[\d\s\.,]+)\s*(?<unit>$unitAlt)?\s+(?<price>[\d\s\.,]+)\s*(?<currency>$currencyAlt)?"
  val textP2 =
    raw"(?<name>.+?)\s+(?<price>[\d\s\.,]+)\s*(?<currency>$currencyAlt)?\s+(?<qty>[\d\s\.,]+)\s*(?<unit>$unitAlt)?"
  val textP3 =
    raw"(?<name>.+?)\s+(?<qty>[\d\s\.,]+)\s+(?<price>[\d\s\.,]+)"

  // InvoiceParser pattern (invoice_parser.py:29-34)
  val invoiceP1 =
    raw"^(?<number>\d+)\s+(?<article>[А-Яа-я\w\-\d]+)\s+(?<name>[А-Яа-я\w\s\-\.\n]+?)\s+(?<qty>[\d\s\.,]+)\s+(?<unit>$unitAltLong|км)?\s+(?<price>[\d\s\.,]+)\s+(?<total>[\d\s\.,]+)"

  // CommercialProposalParser pattern (commercial_parser.py:28-33)
  val commercialP1 =
    raw"^(?<number>\d+)\s+(?<name>[А-Яа-я\w\s\-\.\n]+?)\s+(?<qty>[\d\s\.,]+)\s+(?<unit>$unitAltLong)?\s+(?<price>[\d\s\.,]+)\s+(?<total>[\d\s\.,]+)"

  // CompetitiveParser patterns (competitive_parser.py:49-75)
  val competitiveCurrencyAlt = raw"руб|₽|USD|EUR|руб\.|usd|eur|рублей|долларов|евро"
  val competitiveP1 =
    raw"^(?<name>[А-Яа-я\w\s\-\.]+?)\s+(?<qty>[\d\s\.,]+)\s*(?<unit>$unitAltLong)?\s+(?<price>[\d\s\.,]+)\s*(?<currency>$competitiveCurrencyAlt)?"
  val competitiveP2 =
    raw"^(?<name>[А-Яа-я\w\s\-\.]+?)\s+(?<price>[\d\s\.,]+)\s*(?<currency>$currencyAlt)?\s+(?<qty>[\d\s\.,]+)\s*(?<unit>$unitAltLong)?"
  val competitiveP3 =
    raw"^(?<name>[А-Яа-я\w\s\-\.]+?)\s+(?<qty>[\d\s\.,]+)\s+(?<price>[\d\s\.,]+)"
  val competitiveP4 =
    raw"^(?<name>[А-Яа-я\w\s\-\.]+?)\s+(?<qty>[\d\s\.,]+)\s*(?<unit>$unitAltLong)?\s+(?<price>[\d\s\.,]+)\s+(?<total>[\d\s\.,]+)"

  // UniversalParser patterns (universal_parser.py:62-74)
  val universalP1 =
    raw"(?<name>[А-Яа-я\w\s\-\.\n]+?)\s+(?<qty>[\d\s\.,]+)\s*(?<unit>$unitAltLong|км|м2|м3)?\s+(?<price>[\d\s\.,]+)\s*(?<total>[\d\s\.,]+)?"
  val universalP2 =
    raw"^(?<number>\d+)\s+(?<name>[А-Яа-я\w\s\-\.\n]+?)\s+(?<qty>[\d\s\.,]+)\s+(?<price>[\d\s\.,]+)"

  // line prefilters (invoice_parser.py:357-361 etc.)
  val allNumericLine = raw"^[\d\s\.,]+$$"
  val hasLetter = raw"[а-яёa-z]"
  val itogoLine = raw"итого|всего|сумма.*руб"

  // commercial clean-name tech prefix (commercial_parser.py:403)
  val commercialTechPrefix = raw"^[А-Я]{2,}-\d+[х×]\d+[-\d\.]*\s*ТУ\s*"

  // supplier INN patterns (supplier_profiles.py:420-423)
  val innPatterns: Seq[String] = Seq(
    raw"инн\s*(\d{10,12})",
    raw"идентификационный номер налогоплательщика\s*(\d{10,12})")
}
