"""Seeded input generator for the benchmark.

Everything the program under test receives comes from here: the
ListenFirst-shaped API pages and export configs (``etl_paged``), the staged
raw parquet table and its configs (``etl_bulk``), and the star-schema /
events / documents / embeddings tables the query workloads read.  The same
seed always gives the same inputs.

The ETL expectations (rows loaded, output column list, sum of
``metric&impressions``) are computed here in plain Python, independently
of the Spark transforms, from the reference semantics the pipeline
implements (FIXTURES.md A1-A3):

- a row with ``"unauthorized"`` in ANY string column is dropped, extra
  columns included (the scrub runs before the projection);
- ``lfm.brand_view.id`` must be in the config's brands; for content
  datasets ``lfm.fact.date_str`` must also lie in the request window;
- tag items ``"k: v"`` pivot to ``lfm&content&tags&<k>`` columns (spaces
  in keys become ``_``, items without ``:`` go to ``untitled``), sorted,
  appended after the other config columns;
- impressions cast to int64 with unparsable / null values filled with 0.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SENTINEL = "unauthorized"
TAGS = "lfm.content.tags"
BRAND = "lfm.brand_view.id"
DATE = "lfm.fact.date_str"
IMPRESSIONS = "metric.impressions"

#: Request window and macro anchor.  ``end_date`` is a macro so the
#: request path resolves ``{{nDaysAgo N}}`` against the fixed anchor.
ANCHOR = "2024-02-29"
PAYLOAD = {"start_date": "2024-02-01", "end_date": "{{nDaysAgo 0}}"}
WINDOW = ("2024-02-01", "2024-02-29")

STRING_COLS = (
    DATE,
    "lfm.content.posted_on_datetime",
    "lfm.fact.window_start_date",
    "lfm.fact.window_end_date",
    "lfm.post.channel",
    "lfm.brand.name",
    IMPRESSIONS,
    "metric.engagement_rate",
)
CHANNELS = ("facebook", "instagram", "tiktok", "youtube", "twitter")
BRANDS = tuple(range(101, 113))

# --------------------------------------------------------------------------
# ETL: raw rows
# --------------------------------------------------------------------------


def _raw_schema(n_extra: int) -> pa.Schema:
    fields = [pa.field(BRAND, pa.int64())]
    fields += [pa.field(c, pa.string()) for c in STRING_COLS]
    fields.append(pa.field(TAGS, pa.list_(pa.string())))
    fields += [pa.field(f"lfm.extra.col{i:02d}", pa.string()) for i in range(n_extra)]
    return pa.schema(fields)


def _raw_rows(rng: np.random.Generator, n: int, keys: list[str], n_extra: int,
              max_items: int) -> list[dict]:
    """Raw API rows.  Tag lists cover the A1 edge cases: null and empty
    lists, duplicate keys (10% of rows repeat their first key), colon-less
    items and keys with spaces; impressions and engagement rates include
    garbage, empty and null values; 4% of rows carry the sentinel in one
    random string column, extra columns included."""
    days = np.arange(np.datetime64("2024-01-15"), np.datetime64("2024-03-16")).astype(str)

    def share(p):  # exactly round(p * n) rows, at seeded positions
        return rng.permutation(np.arange(n) < round(p * n))

    def spread(values):  # each value on an equal share of the rows
        return rng.permutation(np.resize(np.asarray(values), n))

    # Filter outcomes and work per row come in fixed shares, so every seed
    # loads about the same number of rows and tags.
    day = spread(days)
    blank_day = share(0.02)
    sec = rng.integers(0, 86400, n)
    bad_posted = share(0.03)
    u_imp, imp_val = spread(np.arange(20) / 20), rng.integers(0, 100_000, n)
    u_rate, rate_val = spread(np.arange(20) / 20), rng.random(n)
    brand = spread(BRANDS)
    channel = rng.integers(0, len(CHANNELS), n)
    brand_name = rng.integers(0, 40, n)
    u_tags = spread(np.arange(50) / 50)
    n_items = spread(np.arange(1, max_items + 1))
    item_key = rng.integers(0, len(keys), (n, max_items))
    item_val = rng.integers(0, 20, (n, max_items))
    colonless = rng.random((n, max_items)) < 0.05
    dup = share(0.1)
    extra = rng.integers(0, 1000, (n, n_extra))
    sentinel = share(0.04)
    extra_cols = [f"lfm.extra.col{i:02d}" for i in range(n_extra)]
    sentinel_col = rng.integers(0, len(STRING_COLS) + n_extra, n)
    rows = []
    for i in range(n):
        d = str(day[i])
        s = int(sec[i])
        if u_tags[i] < 0.04:
            tags = None
        elif u_tags[i] < 0.08:
            tags = []
        else:
            tags = [f"note{item_val[i, j] % 9}" if colonless[i, j]
                    else f"{keys[item_key[i, j]]}: v{item_val[i, j]}"
                    for j in range(n_items[i])]
            if dup[i]:
                tags.append(tags[0].replace("v", "w", 1))
        row = {
            BRAND: int(brand[i]),
            DATE: "" if blank_day[i] else d,
            "lfm.content.posted_on_datetime": "not a date" if bad_posted[i] else
            f"{d} {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}",
            "lfm.fact.window_start_date": f"{d} 00:00:00",
            "lfm.fact.window_end_date": f"{d} 23:59:59",
            "lfm.post.channel": CHANNELS[channel[i]],
            "lfm.brand.name": f"Brand {brand_name[i]}",
            IMPRESSIONS: str(imp_val[i]) if u_imp[i] < 0.85 else
            ("n/a" if u_imp[i] < 0.9 else ("" if u_imp[i] < 0.95 else None)),
            "metric.engagement_rate": f"{rate_val[i]:.4f}" if u_rate[i] < 0.9 else
            ("bad" if u_rate[i] < 0.95 else None),
            TAGS: tags,
        }
        for j, c in enumerate(extra_cols):
            row[c] = f"x{extra[i, j]}"
        if sentinel[i]:
            row[(*STRING_COLS, *extra_cols)[sentinel_col[i]]] = SENTINEL
        rows.append(row)
    return rows


def _configs(rng: np.random.Generator, n: int, prefix: str) -> dict:
    """Export-config document: alternating content / non-content datasets,
    each config with its own brand subset and column selection."""
    docs = {}
    for i in range(n):
        content = i % 2 == 0
        meta = {"lfm.brand.name": "string", TAGS: "string"}
        if content:
            meta["lfm.content.posted_on_datetime"] = "datetime64[ns]"
        group = {DATE: "datetime64[ns]", "lfm.post.channel": "string"}
        if i % 3 == 1:
            group["lfm.fact.window_start_date"] = "datetime64[ns]"
            group["lfm.fact.window_end_date"] = "datetime64[ns]"
        brands = sorted(int(b) for b in rng.choice(BRANDS, size=8, replace=False))
        docs[f"{prefix}{i:02d}"] = {
            "dataset_id": f"dataset_{'content' if content else 'brand'}_{prefix}{i:02d}",
            "metrics": {IMPRESSIONS: "int64", "metric.engagement_rate": "float64"},
            "group_by": group,
            "meta_dimensions": meta,
            "brands": brands,
        }
    return docs


def _tag_key(item: str) -> str:
    if ":" in item:
        return f"{TAGS}." + item.split(":", 1)[0].strip(" ").replace(" ", "_")
    return f"{TAGS}.untitled"


def expected_output(doc: dict, rows: list[dict]) -> dict:
    """Rows, sanitized output columns and impressions sum for one config."""
    brands = set(doc["brands"])
    content = "content" in doc["dataset_id"]
    kept, keys, imp = 0, set(), 0
    for r in rows:
        if r[BRAND] not in brands:
            continue
        if content and not (r[DATE] is not None and WINDOW[0] <= r[DATE] <= WINDOW[1]):
            continue
        if any(v == SENTINEL for k, v in r.items() if k != TAGS and k != BRAND):
            continue
        kept += 1
        keys.update(_tag_key(t) for t in r[TAGS] or ())
        v = r[IMPRESSIONS]
        imp += int(v) if v is not None and v.isdigit() else 0
    cols = [c for c in (*doc["group_by"], *doc["meta_dimensions"], *doc["metrics"])
            if c != TAGS]
    cols += sorted(keys)
    return {"rows": kept, "columns": [c.replace(".", "&") for c in cols],
            "impressions": imp}


# --------------------------------------------------------------------------
# ETL workloads
# --------------------------------------------------------------------------

#: etl_paged: many small configs, each read as API pages.
PAGED = {"configs": 3, "pages": 2, "rows_per_page": 100, "extra": 2, "keys": 8, "items": 4}
#: etl_bulk: few configs over one wide staged parquet table with many tags.
BULK = {"configs": 2, "rows": 20_000, "extra": 16, "keys": 32, "items": 8}

_PAGED_KEYS = ["campaign", "genre", "franchise", "talent", " region ", "format",
               "Brand Tier", "audience group", "season", "network"]


def generate_paged(seed: int, out_dir: str, size: dict = PAGED) -> dict:
    """Per-config API pages (JSON) plus the config document."""
    rng = np.random.default_rng([seed, 1])
    docs = _configs(rng, size["configs"], "paged")
    keys = _PAGED_KEYS[: size["keys"]]
    pages, expected = {}, {}
    for cid, doc in docs.items():
        rows = _raw_rows(rng, size["pages"] * size["rows_per_page"], keys,
                         size["extra"], size["items"])
        n = size["rows_per_page"]
        pages[doc["dataset_id"]] = [rows[i:i + n] for i in range(0, len(rows), n)]
        expected[cid] = expected_output(doc, rows)
    os.makedirs(out_dir, exist_ok=True)
    _dump(out_dir, "pages.json", pages)
    _dump(out_dir, "configs.json", docs)
    _dump(out_dir, "expected.json", expected)
    return {"input_rows": sum(len(p) for ps in pages.values() for p in ps)}


def generate_bulk(seed: int, out_dir: str, size: dict = BULK) -> dict:
    """One staged raw parquet table shared by every config (a columnar scan
    per config) plus the config document."""
    rng = np.random.default_rng([seed, 2])
    docs = _configs(rng, size["configs"], "bulk")
    keys = [f"key {i:02d}" if i % 7 == 0 else f"k{i:02d}" for i in range(size["keys"])]
    rows = _raw_rows(rng, size["rows"], keys, size["extra"], size["items"])
    os.makedirs(out_dir, exist_ok=True)
    schema = _raw_schema(size["extra"])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(out_dir, "raw.parquet"), row_group_size=16_384)
    _dump(out_dir, "configs.json", docs)
    _dump(out_dir, "expected.json", {cid: expected_output(d, rows) for cid, d in docs.items()})
    return {"input_rows": len(rows)}


# --------------------------------------------------------------------------
# Query tables
# --------------------------------------------------------------------------

#: Scale of the generated query tables, in the testdata's scale-factor
#: units (lineitem = 6e6 * sf rows; documents and embeddings floor at 500).
QUERY_SF = 0.01

_VOCAB = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("blue", "red", "small", "green", "large", "steel", "brass", "tiny")
_NOUN = ("anvil", "bolt", "ring", "widget", "gear", "nut", "spring", "valve")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_EVENTS = ("click", "error", "purchase", "signup", "view")


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def generate_tables(seed: int, out_dir: str, sf: float = QUERY_SF) -> dict:
    """Write region..embeddings as parquet with the testdata schemas
    (FIXTURES.md B).  Returns row counts."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    pick = lambda vals, n: np.array(vals, dtype=object)[rng.integers(0, len(vals), n)]  # noqa: E731
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(_SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(("F", "O", "P"), n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": pick(_PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(("A", "N", "R"), n_li),
        "l_linestatus": pick(("F", "O"), n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2498)})
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": pick(_EVENTS, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = list(pick(_VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(toks))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(_LANGS, n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


def _dump(out_dir: str, name: str, obj) -> None:
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(obj, f)


def anchor_date() -> dt.date:
    return dt.date.fromisoformat(ANCHOR)
