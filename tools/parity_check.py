#!/usr/bin/env python3
"""Parity sweep: run the REFERENCE parsers (read-only, /root/reference) on
the same text+tables the Scala engine segmented, and diff item lists
field-by-field. Dev tool; not part of sbt test.

Usage: sbt "Test/runMain graft.ParityDump /tmp/parity.jsonl 400"
       python3 tools/parity_check.py /tmp/parity.jsonl
"""
import json, sys, math
sys.path.insert(0, "/root/reference/pdf_parser_app")
import pandas as pd

from app.pipeline.parser import TextParser
from app.pipeline.invoice_parser import InvoiceParser
from app.pipeline.commercial_parser import CommercialProposalParser
from app.pipeline.competitive_parser import CompetitiveParser
from app.pipeline.table_extractor import TableExtractor
from app.pipeline.precise_table_parser import PreciseTableParser
from app.pipeline.supplier_profiles import SupplierProfileManager

# UniversalParser.__init__ wires OCR etc; instantiate with use_ocr=False
from app.pipeline.universal_parser import UniversalParser

tp, ip, cp, kp = TextParser(), InvoiceParser(), CommercialProposalParser(), CompetitiveParser()
te, pt = TableExtractor(), PreciseTableParser()
up = UniversalParser(use_ocr=False)
spm = SupplierProfileManager()

def build_tables(tables):
    dfs = []
    for t in tables:
        df = pd.DataFrame([list(r) for r in t["rows"]], columns=list(t["header"]))
        df["_page"] = t["page"]
        df["_table_id"] = t["table_id"]
        dfs.append(df)
    return dfs

FIELDS = ["name", "article", "qty", "unit", "price", "currency", "total",
          "supplier", "source", "confidence"]
DEFAULTS = {"name": "", "article": "", "qty": None, "unit": "", "price": None,
            "currency": "RUB", "total": None, "supplier": "", "source": "",
            "confidence": 0.0}

def norm(items):
    out = []
    for it in items:
        row = {}
        for f in FIELDS:
            v = it.get(f, DEFAULTS[f])
            if isinstance(v, float) and f in ("qty", "price", "total", "confidence"):
                v = round(v, 9)
            row[f] = v
        out.append(row)
    return out

def run_ref(name, text, dfs):
    try:
        if name == "text_parser": return norm(tp.parse_text_to_items(text, dfs))
        if name == "invoice": return norm(ip.parse_invoice(text, dfs))
        if name == "commercial": return norm(cp.parse_commercial_proposal(text, dfs))
        if name == "competitive": return norm(kp.parse_competitive_document(text, dfs))
        if name == "universal": return norm(up._parse_universal(text, dfs))
        if name == "table_extractor": return norm(te.extract_items_from_tables(dfs))
        if name == "precise": return norm(pt.extract_items_from_tables(dfs))
        if name == "profile": return norm(spm.parse_with_profile(text, dfs).get("items", []))
    except Exception as e:
        return "ERROR"

mismatch = 0
checked = 0
examples = []

def check_envelope(rec, dfs):
    """A3/A4 envelope parity vs UniversalParser.parse_document."""
    env = rec.get("envelope")
    if env is None:
        return True, None
    res = up.parse_document(rec["text"], dfs)
    # A7 grand totals (universal_parser.py:277-281): computed there into
    # locals and discarded — recompute identically from the returned dict
    # (the post-281 assignments add no dict values, so the generator sees
    # the same seven parser dicts in the same order).
    dvals = [r for r in res.values() if isinstance(r, dict) and 'error' not in r]
    gt_count = sum(r.get('count', 0) for r in dvals)
    gt_cost = sum(r.get('total_cost', 0) for r in dvals)
    tconf = sum(r.get('avg_confidence', 0) for r in dvals)
    valid = [r for r in dvals if r.get('count', 0) > 0]
    gt_conf = tconf / len(valid) if valid else 0
    ref_env = {
        "best_parser": res["best_parser"],
        "best_count": res["count"],
        "best_total_cost": round(res["total_cost"], 6),
        "doc_type": res["document_type"],
        "grand_total_count": gt_count,
        "grand_total_cost": round(gt_cost, 6),
        "grand_avg_confidence": round(gt_conf, 9),
        "best_items": norm(res["best_items"]),
    }
    mine = {
        "best_parser": env["best_parser"],
        "best_count": env["best_count"],
        "best_total_cost": round(env["best_total_cost"], 6),
        "doc_type": env["doc_type"],
        "grand_total_count": env.get("grand_total_count"),
        "grand_total_cost": round(env.get("grand_total_cost", 0), 6),
        "grand_avg_confidence": round(env.get("grand_avg_confidence", 0), 9),
        "best_items": norm(env["best_items"]),
    }
    return mine == ref_env, (mine, ref_env)
for line in open(sys.argv[1]):
    rec = json.loads(line)
    dfs = build_tables(rec["tables"])
    ok, pair = check_envelope(rec, dfs)
    checked += 1
    if not ok:
        mismatch += 1
        if len(examples) < 6:
            examples.append((rec["id"], "ENVELOPE", pair[0], pair[1]))
    for pname in ["text_parser", "commercial", "invoice", "competitive", "universal",
                  "table_extractor", "precise", "profile"]:
        mine = rec[pname]
        if mine != "ERROR":
            mine = norm(mine)
        ref = run_ref(pname, rec["text"], dfs)
        checked += 1
        if mine != ref:
            mismatch += 1
            if len(examples) < 6:
                examples.append((rec["id"], pname, mine, ref))

print(f"checked={checked} mismatches={mismatch}")
for id_, pname, mine, ref in examples:
    print(f"--- turn {id_} parser {pname}")
    mm = mine if isinstance(mine, str) else json.dumps(mine, ensure_ascii=False)[:600]
    rr = ref if isinstance(ref, str) else json.dumps(ref, ensure_ascii=False)[:600]
    print(" engine:", mm)
    print(" ref   :", rr)
sys.exit(1 if mismatch else 0)
