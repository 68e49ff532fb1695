"""Seeded inputs for the perfbench workloads.

Everything the program under test receives is produced here from one
integer seed: the same seed gives byte-identical files and request
lists. The program sees only these files and lists, never the seed.

Records are emitted in ``RECORD_ID`` order. The file ingest path
(``records_from_json_files``) re-derives batch position as a rank over
``RECORD_ID`` while the API path keeps list order; writing records in
id order makes the two paths agree, so their reports can be compared.

Why each shape value was chosen
-------------------------------
There is no measured traffic to take a mix from. The only real input
is the reference's ``sample_request.json`` (FIXTURES.md A1): one batch
whose record holds 2 items of 1 finding each. The record shape below
is that shape; every share after it is assumed, chosen only so that
each edge case FIXTURES.md A1 lists occurs in a few percent of rows.

ITEMS_PER_RECORD = 2, FINDINGS_PER_ITEM = 1
    The reference sample's shape, for every record: 2 findings per
    record. Batch size (1, 10 or 100 records per request, the corpus
    size) is what varies, not record size.
DUP_SHARE = 0.10 (assumed)
    The second item repeats the first one's ITEM_CODE and DIAG_CODE
    with this probability: a duplicate finding across items, which the
    keep-first dedup window drops.
EMPTY_SHARE = 0.08 (assumed)
    Exactly this share of findings has a null, empty or blank comment;
    ingest filters them before any join.
NEWLINE_SHARE = 0.05, FULLWIDTH_SHARE = 0.10 (assumed)
    Comments with embedded CR/LF and with full-width CJK punctuation,
    which exercise the clean stage's regex and translate expressions.
N_ITEM_CODES = 120, N_DIAG_CODES = 600, N_SUMMARY_CODES = 150 (assumed)
    Diags map many-to-one onto summaries as in the reference dims, so
    distinct summaries are a small share of findings (the LLM memo).
EMPTY_SUMMARY_SHARE = 0.2 (assumed)
    A fifth of summary codes have no names; those rows fall back to the
    per-language default text, which the rewriter skips.
UNMAPPED_ITEM_SHARE = 0.05, GROUP0_SHARE = 0.05 (assumed)
    Item codes missing from the group map (null group → default name)
    and mapped to GROUPNO 0 (the max+1 sentinel).

Battery tables
--------------
The operator-battery slice reads ``documents``, ``lineitem``,
``orders`` and ``events`` with the column names and types of the
repository's test data (TESTDATA.md), at the row counts of its sf0.01
set except ``lineitem`` (a third of it). Documents are space-separated
words from a 29-word vocabulary, 10-99 words long (the test data uses 31);
NEAR_DUP_SHARE (assumed) of them copy an earlier document with one word
changed, so the near-duplicate operators find pairs.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

ITEMS_PER_RECORD = 2
FINDINGS_PER_ITEM = 1
DUP_SHARE = 0.10
EMPTY_SHARE = 0.08
NEWLINE_SHARE = 0.05
FULLWIDTH_SHARE = 0.10
N_ITEM_CODES = 120
N_DIAG_CODES = 600
N_SUMMARY_CODES = 150
EMPTY_SUMMARY_SHARE = 0.2
UNMAPPED_ITEM_SHARE = 0.05
GROUP0_SHARE = 0.05
ORGS = ["ORG_A", "ORG_B", "ORG_C"]
LANGS = ["1", "2", "3", "4"]

_WORDS = {
    "1": ["血壓", "偏高", "建議", "追蹤", "血糖", "正常", "肝功能", "輕度", "異常", "複檢"],
    "2": ["blood", "pressure", "slightly", "elevated", "follow", "up", "in", "three", "months", "normal"],
    "3": ["血圧", "やや", "高め", "経過", "観察", "を", "推奨", "します", "肝機能", "正常"],
    "4": ["血压", "偏高", "建议", "随访", "血糖", "正常", "肝功能", "轻度", "异常", "复查"],
}
_FULLWIDTH = ["（注意）：", "數值偏高，", "請追蹤！", "（參考值）", "～３個月％"]


def _code(prefix: str, n: int) -> str:
    return f"{prefix}{n:04d}"


def _comment(rng: random.Random, lang: str, empty: bool):
    if empty:
        return rng.choice([None, "", "   "])
    words = " ".join(rng.choice(_WORDS[lang]) for _ in range(rng.randint(3, 12)))
    r = rng.random()
    if r < NEWLINE_SHARE:
        return words.replace(" ", "\r\n", 1) + "\n"
    if r < NEWLINE_SHARE + FULLWIDTH_SHARE:
        return rng.choice(_FULLWIDTH) + words + rng.choice(_FULLWIDTH)
    return words


def make_records(seed: int, n: int, prefix: str = "R") -> list[dict]:
    """``n`` records, ids ``<prefix><seed><index>`` in increasing order.

    Record, item and finding counts and the number of empty comments
    depend on ``n`` only, so every seed gives the same amount of work."""
    rng = random.Random(f"records-{seed}-{prefix}")
    total = n * ITEMS_PER_RECORD * FINDINGS_PER_ITEM
    empty = set(rng.sample(range(total), round(EMPTY_SHARE * total)))
    k = 0
    out = []
    for i in range(n):
        lang = rng.choice(LANGS)
        items = []
        for _ in range(ITEMS_PER_RECORD):
            if items and rng.random() < DUP_SHARE:
                code = items[0]["ITEM_CODE"]
                diags = [items[0]["FINDINGS"][0]["DIAG_CODE"]]
            else:
                code = _code("I", rng.randrange(N_ITEM_CODES))
                diags = []
            findings = []
            for _ in range(FINDINGS_PER_ITEM):
                diag = diags.pop() if diags else _code("D", rng.randrange(N_DIAG_CODES))
                findings.append(
                    {"DIAG_CODE": diag, "COMMENT": _comment(rng, lang, k in empty), "SUMMARY_CODE": ""}
                )
                k += 1
            items.append({"ITEM_CODE": code, "FINDINGS": findings})
        out.append(
            {
                "RECORD_ID": f"{prefix}{seed:05d}{i:07d}",
                "LANG_NO": lang,
                "ORG_ID": rng.choice(ORGS),
                "ITEMS": items,
            }
        )
    return out


def count_findings(records: list[dict]) -> int:
    return sum(len(it["FINDINGS"]) for r in records for it in r["ITEMS"])


def has_nonempty_finding(record: dict) -> bool:
    """A record yields a report only if some finding survives the
    ingest comment filter (null-safe trim-empty)."""
    return any(
        (f["COMMENT"] or "").strip()
        for it in record["ITEMS"]
        for f in it["FINDINGS"]
    )


def write_jsonl(records: list[dict], path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for r in records:
            fh.write(json.dumps(r, ensure_ascii=False) + "\n")


def split_files(records: list[dict], n_files: int, out_dir: str) -> None:
    """Contiguous id ranges, one JSON-lines file each (file k holds
    lower ids than file k+1, so per-file ranks stay in id order)."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(records) // n_files)
    for k in range(n_files):
        write_jsonl(records[k * per:(k + 1) * per], os.path.join(out_dir, f"part-{k:03d}.jsonl"))


def write_dims(seed: int, out_dir: str) -> None:
    """The four static dim tables as parquet, covering every code the
    record generator can emit."""
    rng = random.Random(f"dims-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    items = [_code("I", i) for i in range(N_ITEM_CODES)]
    diags = [_code("D", i) for i in range(N_DIAG_CODES)]
    summaries = [_code("S", i) for i in range(N_SUMMARY_CODES)]

    def pad(key: str) -> str:
        # F2 key normalization: some dim keys carry stray whitespace.
        return f" {key} " if rng.random() < 0.1 else key

    item_meta = [
        (pad(c), f"項目{c}", f"项目{c}", f"項目{c}", f"Item {c}", org)
        for c in items
        for org in ORGS
    ]
    groups = []
    for c in items:
        r = rng.random()
        if r < UNMAPPED_ITEM_SHARE:
            continue
        g = 0 if r < UNMAPPED_ITEM_SHARE + GROUP0_SHARE else rng.randint(1, 8)
        groups.append((pad(c), g, f"分類{g}", f"Group {g}", f"分類{g}", f"分类{g}"))
    diag_tbl = [
        (pad(d), rng.choice(summaries), f"finding {d}", f"所見{d}", f"所见{d}") for d in diags
    ]
    summary_tbl = []
    for s in summaries:
        if rng.random() < EMPTY_SUMMARY_SHARE:
            summary_tbl.append((s, "", "", "", ""))
        else:
            summary_tbl.append(
                (s, f"建議{s}追蹤", f"建议{s}随访", f"Follow up on {s}.", f"{s}の経過観察")
            )
    tables = {
        "item_meta": (
            ["ITEM_CODE", "TCNAME_ITEM", "SCNAME_ITEM", "JPNAME_ITEM", "ENNAME_ITEM", "ORG_ID"],
            item_meta,
        ),
        "item_group_map": (
            ["ITEM_CODE", "GROUPNO", "TCNAME_GROUP", "ENNAME_GROUP", "JPNAME_GROUP", "SCNAME_GROUP"],
            groups,
        ),
        "diag_tbl": (
            ["DIAG_CODE", "SUMMARY_CODE", "ENNAME_COMMENT", "JPNAME_COMMENT", "SCNAME_COMMENT"],
            diag_tbl,
        ),
        "summary_tbl": (
            ["SUMMARY_CODE", "TCNAME_SUMMARY", "SCNAME_SUMMARY", "ENNAME_SUMMARY", "JPNAME_SUMMARY"],
            summary_tbl,
        ),
    }
    for name, (cols, rows) in tables.items():
        arrays = {
            c: pa.array([r[i] for r in rows], type=pa.int32() if c == "GROUPNO" else pa.string())
            for i, c in enumerate(cols)
        }
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))


def request_sizes(seed: int, n: int) -> list[int]:
    """Batch sizes for the API loop: blocks of (1, 10, 100) records, each
    block in seeded order, so every run sees the same size mix."""
    rng = random.Random(f"sizes-{seed}")
    sizes: list[int] = []
    while len(sizes) < n:
        block = [1, 10, 100]
        rng.shuffle(block)
        sizes.extend(block)
    return sizes[:n]


BATTERY_ROWS = {"documents": 500, "lineitem": 20_000, "orders": 15_000, "events": 10_000}
NEAR_DUP_SHARE = 0.2
_DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark line sort "
    "window order data column join small customer query stream group filter big"
).split()
_DOC_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def write_battery_tables(seed: int, out_dir: str) -> None:
    """The four tables the battery slice reads, as parquet files named
    ``<table>.parquet`` (the layout ``queries.load`` expects)."""
    rng = random.Random(f"battery-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    for _ in range(BATTERY_ROWS["documents"]):
        if texts and rng.random() < NEAR_DUP_SHARE:
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = rng.choice(_DOC_WORDS)
        else:
            words = [rng.choice(_DOC_WORDS) for _ in range(rng.randint(10, 99))]
        texts.append(" ".join(words))
    n = len(texts)
    tables = {
        "documents": {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([rng.choice(_DOC_LANGS) for _ in range(n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    }
    day = 86_400_000_000  # microseconds
    epoch_1992 = 694_224_000_000_000
    n = BATTERY_ROWS["lineitem"]
    tables["lineitem"] = {
        "l_orderkey": pa.array([rng.randrange(BATTERY_ROWS["orders"]) for _ in range(n)], pa.int64()),
        "l_partkey": pa.array([rng.randrange(2000) for _ in range(n)], pa.int64()),
        "l_suppkey": pa.array([rng.randrange(100) for _ in range(n)], pa.int64()),
        "l_linenumber": pa.array([rng.randint(1, 7) for _ in range(n)], pa.int32()),
        "l_quantity": pa.array([float(rng.randint(1, 50)) for _ in range(n)], pa.float64()),
        "l_extendedprice": pa.array([rng.randint(90_000, 10_000_000) / 100 for _ in range(n)], pa.float64()),
        "l_discount": pa.array([rng.randint(0, 10) / 100 for _ in range(n)], pa.float64()),
        "l_tax": pa.array([rng.randint(0, 8) / 100 for _ in range(n)], pa.float64()),
        "l_returnflag": pa.array([rng.choice("ANR") for _ in range(n)]),
        "l_linestatus": pa.array([rng.choice("FO") for _ in range(n)]),
        "l_shipdate": pa.array(
            [epoch_1992 + rng.randrange(3650) * day for _ in range(n)], pa.timestamp("us")
        ),
    }
    n = BATTERY_ROWS["orders"]
    priorities = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    tables["orders"] = {
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array([rng.randrange(1500) for _ in range(n)], pa.int64()),
        "o_orderstatus": pa.array([rng.choice("FOP") for _ in range(n)]),
        "o_totalprice": pa.array([rng.randint(100_000, 50_000_000) / 100 for _ in range(n)], pa.float64()),
        "o_orderdate": pa.array(
            [epoch_1992 + rng.randrange(2500) * day for _ in range(n)], pa.timestamp("us")
        ),
        "o_orderpriority": pa.array([rng.choice(priorities) for _ in range(n)]),
    }
    n = BATTERY_ROWS["events"]
    epoch_2024 = 1_704_067_200_000_000
    tables["events"] = {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(
            sorted(epoch_2024 + rng.randrange(30 * day) for _ in range(n)), pa.timestamp("us")
        ),
        "user_id": pa.array([rng.randrange(100) for _ in range(n)], pa.int64()),
        "event_type": pa.array(
            [rng.choice(["click", "view", "signup", "purchase", "error"]) for _ in range(n)]
        ),
        "value": pa.array([rng.randint(0, 10_000) / 100 for _ in range(n)], pa.float64()),
        "props": pa.array([json.dumps({"k": rng.randrange(100)}) for _ in range(n)]),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
