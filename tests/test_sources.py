"""Paginated REST source tests (A1): Spark 4 Python DataSource with one
partition per page + the driver-side Arrow reader `read_paged`, checked
against the row path ``createDataFrame(rows, schema)``."""

from __future__ import annotations

import datetime
import decimal
import json

import pytest
from pyspark.errors import PySparkTypeError
from pyspark.sql.types import StructType

from social_warner_spark.sources import PagedRestDataSource, read_paged

SCHEMA_DDL = "page int, item_id int, name string"


def fake_fetch_page(page_index: int, options: dict):
    """Deterministic fake API: 3 rows per page."""
    per_page = int(options.get("per_page", "3"))
    for i in range(per_page):
        yield {"page": page_index, "item_id": page_index * 100 + i, "name": f"row{i}"}


def test_datasource_one_partition_per_page(spark):
    spark.dataSource.register(PagedRestDataSource)
    df = (
        spark.read.format("paged_rest")
        .schema(SCHEMA_DDL)
        .option("fetcher", "tests.test_sources:fake_fetch_page")
        .option("num_pages", "4")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4  # page == partition
    rows = df.collect()
    assert len(rows) == 12
    assert {r.page for r in rows} == {0, 1, 2, 3}
    assert any(r.item_id == 301 for r in rows)


def test_driver_side_fallback_union(spark):
    def pages():
        yield [{"page": 0, "item_id": 1, "name": "a"}]
        yield [{"page": 1, "item_id": 2, "name": "b"}, {"page": 1, "item_id": 3, "name": "c"}]

    df = read_paged(spark, pages, SCHEMA_DDL)
    assert df.count() == 3


def test_driver_side_fallback_empty_returns_none(spark):
    assert read_paged(spark, lambda: iter(()), SCHEMA_DDL) is None


PARITY_DDL = "id long, tags array<string>, label string, score double"

PARITY_PAGES = [
    [
        {"id": 1, "tags": None, "label": 1, "score": 0.5},
        {"id": 2, "tags": [], "label": 1.5, "score": None},
        {"id": 3, "tags": ("a", "b"), "label": True},  # missing key: score
        {"id": 4, "tags": ["x", None], "label": False, "score": 2.0, "extra": 9},
    ],
    [],  # an empty page between two non-empty pages
    [
        {"id": 5, "label": 1e20},  # missing keys: tags, score
        {"id": 6, "tags": ["y"], "label": b"raw"},
        {"id": 7, "label": {"k": [1, True]}},
        {"id": None, "tags": ["z"], "label": "plain", "score": -1.25},
    ],
]


TYPED_DDL = (
    "d date, ts timestamp, ntz timestamp_ntz, dec decimal(10,2), bin binary, "
    "m map<string,int>, st struct<x: int, y: string>, al array<long>"
)

TYPED_PAGES = [
    [
        {
            "d": datetime.date(2024, 1, 2),
            "ts": datetime.datetime(2024, 1, 2, 3, 4, 5, 6),
            "ntz": datetime.datetime(2024, 1, 2, 3, 4, 5),
            "dec": decimal.Decimal("1.50"),
            "bin": b"ab",
            "m": {"k": 1, "z": None},
            "st": {"x": 1, "y": 2},
            "al": [1, None],
        }
    ],
    [
        {
            "ts": datetime.datetime(2024, 6, 1, tzinfo=datetime.timezone.utc),
            "bin": bytearray(b"x"),
            "st": (3, "q"),
        }
    ],
]


@pytest.mark.parametrize(
    "ddl, pages, as_struct",
    [
        (PARITY_DDL, PARITY_PAGES, False),
        (PARITY_DDL, PARITY_PAGES, True),
        (TYPED_DDL, TYPED_PAGES, True),
    ],
    ids=["ddl", "struct", "typed"],
)
def test_read_paged_matches_row_path(spark, ddl, pages, as_struct):
    """read_paged equals the row-path oracle ``createDataFrame(rows, schema)``
    row for row: non-str values in string columns render the same way, and
    dates, timestamps, decimals, binary, maps and structs take the row
    path's internal form before they reach Arrow."""
    schema = StructType.fromDDL(ddl) if as_struct else ddl
    oracle = spark.createDataFrame([r for page in pages for r in page], schema)
    df = read_paged(spark, lambda: iter(pages), schema)
    assert df.schema == oracle.schema
    assert df.collect() == oracle.collect()


@pytest.mark.parametrize(
    "ddl, row",
    [
        ("tags array<string>", {"tags": "ab"}),
        ("id long", {"id": 1.0}),
        ("id long", {"id": True}),
    ],
    ids=["str-in-array", "float-in-long", "bool-in-long"],
)
def test_read_paged_rejects_what_row_path_rejects(spark, ddl, row):
    """Arrow would accept these (``"ab"`` -> ["a","b"], 1.0 -> 1); the row
    path's verifier rejects them, and so must read_paged."""
    with pytest.raises(PySparkTypeError):
        spark.createDataFrame([row], ddl)
    with pytest.raises(PySparkTypeError):
        read_paged(spark, lambda: iter([[row]]), ddl)


@pytest.mark.parametrize("parallelized", [False, True], ids=["local-relation", "parallelized"])
def test_read_paged_runs_no_python_worker(spark, parallelized):
    """Neither decode path puts a PythonRDD in the plan.  Below
    ``arrow.localRelationThreshold`` the pages become a local relation;
    above it (forced here with a 0 threshold) each non-empty page is one
    partition."""
    key = "spark.sql.execution.arrow.localRelationThreshold"
    default = spark.conf.get(key)
    spark.conf.set(key, "0" if parallelized else default)
    try:
        df = read_paged(spark, lambda: iter(PARITY_PAGES), PARITY_DDL)
    finally:
        spark.conf.set(key, default)
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    if parallelized:
        assert df.rdd.getNumPartitions() == sum(1 for page in PARITY_PAGES if page)
    assert df.count() == sum(len(page) for page in PARITY_PAGES)


def test_read_paged_all_pages_empty_gives_empty_frame(spark):
    df = read_paged(spark, lambda: iter([[], []]), SCHEMA_DDL)
    assert df is not None and df.isEmpty()
    assert df.columns == ["page", "item_id", "name"]


def test_credentials_resolved_into_options(monkeypatch):
    """A17: the provider runs once driver-side; options carry materialized
    credentials as JSON (DataSource options are strings)."""
    import json

    from social_warner_spark.sources.rest import (
        CREDENTIALS_OPTION,
        DEFAULT_CREDENTIALS_ENV,
        resolve_credentials,
    )

    creds = {"client_id": "cid", "client_secret": "cs", "api_key": "k"}
    monkeypatch.setenv(DEFAULT_CREDENTIALS_ENV, json.dumps(creds))
    opts = resolve_credentials({"num_pages": "3"})
    assert opts["num_pages"] == "3"
    assert json.loads(opts[CREDENTIALS_OPTION]) == creds

    calls = []

    def custom_provider():
        calls.append(1)
        return {"api_key": "other"}

    opts2 = resolve_credentials({}, provider=custom_provider)
    assert json.loads(opts2[CREDENTIALS_OPTION]) == {"api_key": "other"}
    assert calls == [1]


def test_credentials_env_missing_raises(monkeypatch):
    import pytest

    from social_warner_spark.sources.rest import (
        DEFAULT_CREDENTIALS_ENV,
        resolve_credentials,
    )

    monkeypatch.delenv(DEFAULT_CREDENTIALS_ENV, raising=False)
    with pytest.raises(KeyError, match="SOCIAL_WARNER_CREDENTIALS"):
        resolve_credentials({})


def http_fetch_page(page_index: int, options: dict):
    """Real-socket fetcher for the localhost round-trip test: GET
    ``{base_url}/items?page=N`` and yield the JSON rows.  Importable by
    module path so DataSource executors can resolve it."""
    import urllib.request

    url = f"{options['base_url']}/items?page={page_index}"
    with urllib.request.urlopen(url, timeout=10) as resp:
        yield from json.loads(resp.read().decode("utf-8"))


def test_datasource_real_http_roundtrip(spark):
    """A1 through a genuine socket (r04 verdict task 6): a localhost
    http.server serves 3 JSON pages then empty pages; the real
    DataSource read path must fetch page==partition in executors and
    honor pagination-end (the empty trailing page contributes 0 rows)."""
    import http.server
    import threading

    PAGES = 3
    PER_PAGE = 2
    hits = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            page = int(self.path.split("page=")[1])
            hits.append(page)
            rows = (
                [
                    {
                        "page": page,
                        "item_id": page * 100 + i,
                        "name": f"srv{i}",
                    }
                    for i in range(PER_PAGE)
                ]
                if page < PAGES
                else []  # pagination end: the API returns an empty page
            )
            body = json.dumps(rows).encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # keep pytest output clean
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        spark.dataSource.register(PagedRestDataSource)
        df = (
            spark.read.format("paged_rest")
            .schema(SCHEMA_DDL)
            .option("fetcher", "tests.test_sources:http_fetch_page")
            .option("base_url", f"http://127.0.0.1:{port}")
            .option("num_pages", str(PAGES + 1))  # overshoot into the end
            .load()
        )
        assert df.rdd.getNumPartitions() == PAGES + 1  # page == partition
        rows = df.collect()
    finally:
        server.shutdown()
        server.server_close()
    assert len(rows) == PAGES * PER_PAGE  # empty page adds nothing
    assert {r.page for r in rows} == set(range(PAGES))
    assert any(r.item_id == 201 and r.name == "srv1" for r in rows)
    assert sorted(hits) == list(range(PAGES + 1))  # every page truly fetched
