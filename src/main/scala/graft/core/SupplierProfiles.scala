package graft.core

import graft.core.Py.PyStringOps

import graft.model.Item
import graft.rules.Rules
import ParserCommon._

/**
 * Supplier-profile parsing — semantics of the reference SupplierProfileManager
 * (app/pipeline/supplier_profiles.py): identify the supplier from the text
 * (company-name substring, then INN regex), then parse tables with the
 * profile's fixed column mapping, header-compat gate, filters and validators.
 */
object SupplierProfiles {

  final case class Profile(
      id: String,
      name: String,
      inn: String,
      columnMapping: Map[String, Int],
      headerPatterns: Seq[String],
      filters: Seq[Item => Boolean],
      validators: Seq[Item => Boolean])

  private val cable = Keywords("кабель")
  private val requisites = Keywords("инн", "кпп", "счет", "банк")

  // default profiles (supplier_profiles.py:277-403)
  val profiles: Seq[Profile] = Seq(
    Profile("baltkabel", "ООО 'БАЛТКАБЕЛЬ'", "7800000000",
      Map("number" -> 0, "name" -> 1, "qty" -> 2, "unit" -> 3, "price" -> 5, "total" -> 6),
      Seq("наименование.*кол-во.*цена", "товары.*количество.*стоимость"),
      Seq(it => it.name.contains("СИП"), // case-sensitive, as in the reference (line 302)
        it => it.qty.getOrElse(0.0) > 0),
      Seq(it => it.name.length > 5, it => it.price.getOrElse(0.0) > 0)),
    Profile("energoforsazh", "ООО 'Энергофорсаж'", "5027177653",
      Map("number" -> 0, "article" -> 1, "name" -> 2, "qty" -> 3, "unit" -> 4, "price" -> 5, "total" -> 6),
      Seq("№.*артикул.*товары.*количество", "номер.*код.*наименование.*кол-во"),
      Seq(it => cable.inLower(it.name), it => it.qty.getOrElse(0.0) > 0),
      Seq(it => it.name.length > 5, it => it.price.getOrElse(0.0) > 0)),
    Profile("elkom", "ООО 'Элком-Электро'", "7703214111",
      Map("number" -> 0, "name" -> 1, "qty" -> 2, "unit" -> 3, "price" -> 4, "total" -> 5),
      Seq("наименование.*количество.*цена", "товары.*кол-во.*стоимость"),
      Seq(it => cable.inLower(it.name), it => it.qty.getOrElse(0.0) > 0),
      Seq(it => it.name.length > 5, it => it.price.getOrElse(0.0) > 0)),
    Profile("start", "ООО 'СТАРТ'", "2308266335",
      Map("number" -> 0, "name" -> 1, "qty" -> 2, "unit" -> 3, "price" -> 4, "total" -> 5),
      Seq("наименование.*количество.*цена", "товары.*кол-во.*стоимость"),
      Seq(it => it.qty.getOrElse(0.0) > 0,
        it => !requisites.inLower(it.name)),
      Seq(it => it.name.length > 5, it => it.price.getOrElse(0.0) > 0)))

  private val profileById: Map[String, Profile] = profiles.map(p => p.id -> p).toMap

  /** supplier_profiles.py:405-434 */
  def identifySupplier(text: String): Option[String] = {
    val lower = Py.lower(text)
    if (lower.contains("балткабель")) Some("baltkabel")
    else if (lower.contains("энергофорсаж")) Some("energoforsazh")
    else if (lower.contains("элком-электро") || lower.contains("элком")) Some("elkom")
    else if (lower.contains("старт")) Some("start")
    else {
      Patterns.innPatterns.iterator.flatMap { p =>
        val m = Patterns.cachedMatcher(p, lower)
        if (m.find()) {
          val inn = m.group(1)
          profiles.find(pr => pr.inn != null && inn.contains(pr.inn)).map(_.id)
        } else None
      }.nextOption()
    }
  }

  final case class ProfileResult(supplierId: String, supplierName: String, items: Seq[Item])

  /** supplier_profiles.py:448-475 */
  def parseWithProfile(text: String, tables: Seq[Tab]): ProfileResult = {
    identifySupplier(text) match {
      case Some(id) =>
        val p = profileById(id)
        ProfileResult(id, p.name, parseDocument(p, text, tables))
      case None => ProfileResult(null, null, Nil)
    }
  }

  private def parseDocument(p: Profile, text: String, tables: Seq[Tab]): Seq[Item] = {
    val items = eachTable(tables) { (t, i) =>
      if (isCompatibleTable(p, t)) parseTableWithProfile(p, t, i) else Nil
    }
    // text path uses profile item_patterns — empty for all default profiles,
    // so it yields nothing (supplier_profiles.py:209-241); omitted.
    items.filter { it =>
      p.filters.forall(f => f(it)) && p.validators.forall(v => v(it))
    }.map { it =>
      it.copy(supplier = p.name, confidence = math.min(it.confidence + 0.1, 1.0))
    }
  }

  private def isCompatibleTable(p: Profile, t: Tab): Boolean = {
    if (p.headerPatterns.isEmpty) return true
    val headersText = t.header.flatten.filter(_.pyStrip.nonEmpty).mkString(" ")
    p.headerPatterns.exists(pat => Patterns.search(Patterns.profilePattern(pat), headersText))
  }

  private def parseTableWithProfile(p: Profile, table: Tab, tableIdx: Int): Seq[Item] =
    eachRow(table, 0) { rowIdx =>
      val row = table.rows(rowIdx)
      if (isHeaderRow(row, Rules.headerFirstCellTable)) None
      else readProductCells(row, p.columnMapping, Py.pyStrip)
        .item(s"profile_${p.id}_table_${tableIdx}_row_$rowIdx")
    }
}
