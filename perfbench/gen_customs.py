#!/usr/bin/env python3
"""Seeded customs-input generator for the `customs_etl` workload.

Writes a corpus shaped like the reference system's production inputs,
split into equal daily drops:

    <out>/drop_NN/decl/*.zip, *.xml     declaration XML (Pipeline B, E1)
    <out>/drop_NN/manifests/*.csv       shipper manifests (Pipeline A, E2)
    <out>/expected.json                 what a correct engine produces

Every drop holds the FIXTURES.md section-1 defects: `__MACOSX/` and non-XML
zip members, a blank HAWB, non-numeric QTY values, dirty DCL_DOC_NO values,
junk A1 cells (MAWB taken from the file name), merged HAWB cells, footer
rows, a file in neither manifest layout, and waybill keys that differ only
in case, spaces, slashes or dashes between the two sides. Informal
descriptions come in variants (case, full-width, `/` prefixes,
punctuation) of one normalized key, and each key has a planted majority
official mapping, plus one planted exact tie. The expected knowledge base
is the majority vote over the bills that align (same item count on both
sides), computed here by construction — the engine never sees it.

Usage: python3 gen_customs.py <out_dir> --seed 1
"""
import argparse
import csv
import io
import json
import multiprocessing
import os
import random
import zipfile

# Production corpus totals (BASELINE.md): ~54k declaration rows and ~46k
# manifest rows. Each drop is 1/drops of that.
DECL_ROWS = 54_000
ITEMS_PER_BILL = (1, 2, 3, 4, 5)
A_SHARE = 0.85          # bills that also appear in a manifest
MISMATCH_SHARE = 0.03   # manifest bills whose item count differs
MAWBS_PER_DROP = 40
ZIPS_PER_DROP = 3
LOOSE_XML = 10
DROPS = 8
WORKERS = 4            # drop-generating processes

ASCII_HEADS = ["USB", "LED", "TYPE C", "BT", "HD", "MINI", "PRO", "2IN1",
               "5V", "12V", "RGB", "WIFI", "MAX", "AIR", "X1", "S20"]
CJK_NOUNS = ["风扇", "灯条", "手机壳", "耳机", "数据线", "充电器", "支架",
             "键盘", "鼠标", "收纳盒", "水杯", "背包", "贴纸", "台灯",
             "插座", "音箱", "相机包", "保护膜", "挂钩", "雨伞"]
OFFICIAL = ["風扇配件", "電線", "塑膠製品", "耳機", "充電器", "金屬支架",
            "鍵盤", "滑鼠", "收納用品", "玻璃杯", "背包", "貼紙", "照明燈具",
            "插座", "揚聲器", "相機袋", "保護膜", "掛鉤", "雨傘", "電子零件"]
UNITS = ["PCE", "NPR", "KPC", "SET"]
OLD_HEADER = ["分提單號碼", "貨物編號", "货物名称", "數量", "數量單位", "淨重",
              "單價金額", "發票總金額", "進口人英文名稱", "進口人統一編號",
              "進口人電話"]

XSD = ('<xs:schema id="GicDataSet" xmlns="" '
       'xmlns:xs="http://www.w3.org/2001/XMLSchema" '
       'xmlns:msdata="urn:schemas-microsoft-com:xml-msdata">'
       '<xs:element name="GicDataSet" msdata:IsDataSet="true"><xs:complexType>'
       '<xs:choice minOccurs="0" maxOccurs="unbounded">'
       '<xs:element name="BID_HEAD"><xs:complexType><xs:sequence>'
       + "".join(f'<xs:element name="{f}" type="{t}" minOccurs="0" />'
                 for f, t in [("DCL_DOC_NO", "xs:string"), ("MAWB", "xs:string"),
                              ("HAWB_NO", "xs:string"), ("FLY_NO", "xs:string"),
                              ("IMPORT_DATE", "xs:dateTime"),
                              ("DESCRIPTION", "xs:string"),
                              ("CLASSIFY_NO", "xs:string"), ("QTY", "xs:decimal"),
                              ("QTY_UM", "xs:string"),
                              ("PAY_TAX_AMT", "xs:decimal"),
                              ("FOB_AMT_TWD", "xs:decimal")])
       + '</xs:sequence></xs:complexType></xs:element>'
       '</xs:choice></xs:complexType></xs:element></xs:schema>')


def concepts(rng):
    """Normalized informal keys, each with 1-3 candidate official pairs;
    the first candidate is the planted majority."""
    keys = sorted({h + sep + n for h in ASCII_HEADS for n in CJK_NOUNS
                   for sep in ("", " ")})
    rng.shuffle(keys)
    out = []
    for k in keys[:300]:
        cands = []
        for _ in range(rng.randint(1, 3)):
            ccc = (f"{rng.randint(3900, 9600):04d}.{rng.randint(10, 99)}."
                   f"{rng.randint(10, 99)}.00-{rng.randint(0, 9)}")
            cands.append((rng.choice(OFFICIAL), ccc))
        out.append((k, cands))
    return out


FULLWIDTH = {c: chr(ord(c) + 0xFEE0) for c in
             "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"}
FULLWIDTH[" "] = "　"


def variant(rng, key):
    """An informal spelling that the engine's normalizeText maps to `key`."""
    v = rng.randrange(7)
    if v == 1:
        return key.lower()
    if v == 2:
        return "".join(FULLWIDTH.get(c, c) for c in key)
    if v == 3:
        return rng.choice(["配件/", "ACC/", "a/b/"]) + key
    if v == 4:
        return key + rng.choice(["!", ".", " *", "。"])
    if v == 5:
        return "(" + key.replace(" ", "  ") + ")"
    if v == 6:
        return " " + key.lower() + " "
    return key


def key_variant(rng, s):
    """Waybill spelling that cleanWaybill maps back to `s`."""
    v = rng.randrange(5)
    if v == 1:
        return s.lower()
    if v == 2:
        return s[:4] + "-" + s[4:]
    if v == 3:
        return s[:3] + " " + s[3:]
    if v == 4:
        return s[:5] + "/" + s[5:]
    return s


def bid_head(f):
    # generated values hold no markup characters, so no escaping is needed
    return "<BID_HEAD>" + "".join(
        f"<{k}>{v}</{k}>" for k, v in f.items()) + "</BID_HEAD>"


def extended(d, i):
    """The declared-but-unread BID_HEAD fields every production file carries
    (the engine types them, so the dates must be present)."""
    day = f"2025-03-{1 + (d % 28):02d}T00:00:00+08:00"
    return {"AUTO_SEQ": str(i + 1), "SEQ_NO": str(i + 1), "DCL_DOC_TYPE": "G1",
            "DCL_DOC_NO_5": "FUSZH", "DCL_DATE": day, "DOC_DATE": day,
            "CNEE_CODE": "C001", "TAX_AMT1": "0", "TAX_AMT3": "0",
            "TAX_AMT4": "0", "TOT_TAX_AMT": "0", "TAX_BASE": "0",
            "CURRENCY": "TWD", "EX_RATE": "1", "HAWB_EX_RATE": "1",
            "COLOADER": "SEA", "CNEE_C_NAME": "艾克米貿易", "BROKER_BOX_NO": "B12"}


def xml_doc(heads):
    return ('<?xml version="1.0" encoding="utf-8"?>\n<GicDataSet>' + XSD
            + "".join(heads)
            + "<COMP_DATA><COMP_ID>SEA</COMP_ID></COMP_DATA>"
            + "<params><p>1</p></params><userBean><id>u1</id></userBean>"
            + "</GicDataSet>\n").encode("utf-8")


def vote(items):
    """The engine's GroupedMode rule: per key the most frequent (official,
    ccc) pair; ties go to the smallest pair."""
    counts = {}
    for k, off, ccc in items:
        counts.setdefault(k, {}).setdefault((off, ccc), 0)
        counts[k][(off, ccc)] += 1
    kb = []
    for k, c in counts.items():
        (off, ccc), n = sorted(c.items(), key=lambda x: (-x[1], x[0]))[0]
        kb.append([k, off, ccc, n])
    return sorted(kb)


def make_drop(seed, d, out):
    rng = random.Random(seed * 1000 + d)
    concept_list = concepts(random.Random(1000 + seed))
    decl_dir = os.path.join(out, f"drop_{d:02d}", "decl")
    man_dir = os.path.join(out, f"drop_{d:02d}", "manifests")
    os.makedirs(decl_dir)
    os.makedirs(man_dir)
    rows_per_drop = DECL_ROWS // DROPS
    n_bills = rows_per_drop // 3
    counts = [ITEMS_PER_BILL[i % 5] for i in range(n_bills)]
    rng.shuffle(counts)
    mawbs = [f"IPC{25 + d:02d}{rng.randint(10**6, 10**7 - 1)}{i:02d}EX"
             for i in range(MAWBS_PER_DROP)]
    cum, acc = [], 0.0
    for i in range(len(concept_list)):
        acc += 1.0 / (i + 1)
        cum.append(acc)
    tie_key = concept_list[d % len(concept_list)][0] + " TIE"
    tie_pairs = [("電子零件", "8543.70.99.00-1"), ("塑膠製品", "3926.90.90.00-4")]

    bills = []
    for j, k in enumerate(counts):
        items = []
        for i in range(k):
            key, cands = rng.choices(concept_list, cum_weights=cum)[0]
            pair = cands[0] if rng.random() < 0.7 else rng.choice(cands)
            items.append((key, pair))
        bills.append({"mawb": mawbs[j % MAWBS_PER_DROP],
                      "hawb": f"SX{d:02d}{j:07d}", "items": items})
    # the planted tie: two aligned single-item bills per pair
    for t, pair in enumerate(tie_pairs * 2):
        bills[t]["items"] = [(tie_key, pair)]

    in_a = set(rng.sample(range(4, n_bills), int((n_bills - 4) * A_SHARE))) | {0, 1, 2, 3}
    mismatched = set(rng.sample(sorted(in_a - {0, 1, 2, 3}),
                                int(len(in_a) * MISMATCH_SHARE)))

    # ---- declarations: one XML per bill, most of them inside zips
    exp = {"decl_rows": 0, "decl_qty_sum": 0.0, "decl_docno_len": 0}
    docs = []
    for j, b in enumerate(bills):
        doc_raw = f"BY/  /{d:02d}/{j:05d} /FUS{j % 97:02d}"
        heads = []
        # one spelling per bill: items of a bill share their waybill cells
        mawb_b, hawb_b = key_variant(rng, b["mawb"]), key_variant(rng, b["hawb"])
        for i, (key, (off, ccc)) in enumerate(b["items"]):
            qty = rng.randint(0, 40)
            qty_s = "N/A" if rng.random() < 0.01 else str(qty)
            exp["decl_qty_sum"] += qty if qty_s != "N/A" else 0
            total = round(rng.uniform(10, 9000), 2)
            heads.append(bid_head({
                "DCL_DOC_NO": doc_raw, "MAWB": mawb_b, "HAWB_NO": hawb_b,
                "FLY_NO": f"CI{rng.randint(100, 999)}",
                "IMPORT_DATE": f"2025-03-{1 + (d % 28):02d}T00:00:00+08:00",
                "DESCRIPTION": off, "CLASSIFY_NO": ccc, "QTY": qty_s,
                "QTY_UM": rng.choice(UNITS), "PAY_TAX_AMT": f"{total:.2f}",
                "FOB_AMT_TWD": f"{total * 1.1:.2f}", "IMPORT_DUTY_RATE": "5",
                "CNEE_BAN_ID": f"{rng.randint(10**7, 10**8 - 1)}",
                "CNEE_E_NAME": "ACME TRADING", "OTHER_ITEN_2": "0912345678",
                "SHPR_E_NAME": "SHENZHEN SUPPLY", "FROM_CODE": "CNSZX",
                **extended(d, i)}))
            exp["decl_rows"] += 1
            exp["decl_docno_len"] += len(doc_raw.replace(" ", "").replace("/", ""))
        if j % 500 == 7:  # blank HAWB: dropped by the engine
            heads.append(bid_head({
                "DCL_DOC_NO": doc_raw, "MAWB": b["mawb"], "HAWB_NO": "  ",
                "IMPORT_DATE": f"2025-03-{1 + (d % 28):02d}T00:00:00+08:00",
                "DESCRIPTION": "BLANK", **extended(d, 0)}))
        docs.append((f"EX{d:02d}{j:06d}.xml", xml_doc(heads)))
    loose, zipped = docs[:LOOSE_XML], docs[LOOSE_XML:]
    for name, data in loose:
        with open(os.path.join(decl_dir, name), "wb") as f:
            f.write(data)
    per_zip = (len(zipped) + ZIPS_PER_DROP - 1) // ZIPS_PER_DROP
    for z in range(ZIPS_PER_DROP):
        part = zipped[z * per_zip:(z + 1) * per_zip]
        with zipfile.ZipFile(os.path.join(decl_dir, f"25{d:02d}{z:02d}03EX.zip"),
                             "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
            zf.writestr("xml/", b"")
            for name, data in part:
                zf.writestr("xml/" + name, data)
            zf.writestr("__MACOSX/xml/._" + part[0][0], b"\x00\x05\x16\x07junk")
            zf.writestr("readme.txt", b"not a declaration")

    # ---- manifests: one CSV per MAWB, alternating layouts
    by_mawb = {}
    for j in sorted(in_a):
        by_mawb.setdefault(bills[j]["mawb"], []).append(j)
    exp["manifest_rows"] = 0
    for m, (mawb, js) in enumerate(sorted(by_mawb.items())):
        junk_a1 = m % 5 == 4
        name = f"{mawb}.csv"
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        old = m % 2 == 0
        w.writerow(["主提單號碼:" if junk_a1 else mawb, "", "出口報單"])
        w.writerow(["報關資料", "2025"])
        if old:
            w.writerow(["", "", ""])
            w.writerow(OLD_HEADER)
        else:
            w.writerow(["分提單號碼", "b", "c", "品名"] + [f"c{i}" for i in range(4, 15)])
        for j in js:
            b = bills[j]
            items = list(b["items"])
            if j in mismatched:
                items.append(items[-1])
            for i, (key, _) in enumerate(items):
                hawb = b["hawb"] if i == 0 else ""  # merged cell → ffill
                desc = variant(rng, key)
                qty = rng.randint(1, 30)
                price = round(rng.uniform(1, 300), 2)
                if old:
                    w.writerow([hawb, i + 1, desc, qty, rng.choice(UNITS),
                                round(qty * 0.3, 2), price, round(qty * price, 2),
                                "ACME TRADING", "12345678", "0912345678"])
                else:
                    row = ["x"] * 15
                    row[0], row[3], row[9], row[10] = hawb, desc, qty, rng.choice(UNITS)
                    row[13], row[14] = price, round(qty * price, 2)
                    w.writerow(row)
                exp["manifest_rows"] += 1
        if old:
            w.writerow(["", "", "合計", "", "", "", "", ""])
        else:
            w.writerow([""] * 15)
        with open(os.path.join(man_dir, name), "w", encoding="utf-8") as f:
            f.write(buf.getvalue())
    with open(os.path.join(man_dir, f"bad_layout_{d:02d}.csv"), "w") as f:
        f.write("invoice,total\nA,1\nB,2\n")
    with open(os.path.join(man_dir, "notes.txt"), "w") as f:
        f.write("not a manifest\n")
    exp["rejects"] = [f"bad_layout_{d:02d}.csv"]

    aligned = [(key, off, ccc) for j in sorted(in_a - mismatched)
               for key, (off, ccc) in bills[j]["items"]]
    exp["kb"] = vote(aligned)
    return exp


def generate(out, seed):
    """Drops are independent (each has its own random stream), so they are
    generated by a small process pool."""
    args = [(seed, d, out) for d in range(DROPS)]
    with multiprocessing.Pool(WORKERS) as pool:
        exps = pool.starmap(make_drop, args)
        pool.close()
        pool.join()
    drops = {f"drop_{d:02d}": e for d, e in enumerate(exps)}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({"seed": seed, "drops": drops}, f, ensure_ascii=False)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("out")
    p.add_argument("--seed", type=int, default=1)
    a = p.parse_args()
    os.makedirs(a.out, exist_ok=True)
    generate(a.out, a.seed)


if __name__ == "__main__":
    main()
