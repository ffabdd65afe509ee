"""One benchmark session: set up Spark, run a workload's batches for the
requested seconds in a closed loop, check the outputs, write a result file.

Started by run.py as ``python3 perfbench/worker.py <spec.json>`` from the
root of a checkout; the spec names the workload, the input directory and
where to write the result.  Setup (imports, ``session.get_spark``, the
first job and a touch of each input table) is timed from the moment
run.py spawned this process.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from spans import Tracer, self_times  # noqa: E402


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class _Frame:
    """Adapter so tests/oracle_harness.compare takes an already collected
    pandas result (it calls ``.toPandas()`` on its first argument)."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


# --------------------------------------------------------------------------
# ETL workloads
# --------------------------------------------------------------------------


class Etl:
    """One ``service.handle_request`` per batch over every config; the
    extract and load callables are the benchmark's own, like a deployment's
    ``--extract``/``--load`` plug-ins."""

    def __init__(self, spark, tracer: Tracer, spec: dict):
        from social_warner_spark.config import parse_config_document

        self.spark, self.tracer, self.spec = spark, tracer, spec
        self.paged = spec["workload"] == "etl_paged"
        d = spec["inputs"]
        with open(os.path.join(d, "configs.json")) as f:
            self.configs = parse_config_document(f.read())
        with open(os.path.join(d, "expected.json")) as f:
            self.expected = json.load(f)
        if self.paged:
            with open(os.path.join(d, "pages.json")) as f:
                self.pages = json.load(f)
        self.raw_path = os.path.join(d, "raw.parquet")
        self.sink = spec["sink"]
        self.anchor = gen.anchor_date()
        self.batch = 0
        self.extracted: dict = {}
        self.stats: dict = {}

    def schema(self):
        from pyspark.sql.types import (ArrayType, LongType, StringType,
                                       StructField, StructType)

        extra = self.spec["size"]["extra"]
        fields = [StructField(gen.BRAND, LongType())]
        fields += [StructField(c, StringType()) for c in gen.STRING_COLS]
        fields.append(StructField(gen.TAGS, ArrayType(StringType())))
        fields += [StructField(f"lfm.extra.col{i:02d}", StringType()) for i in range(extra)]
        return StructType(fields)

    def warm(self) -> None:
        """Touch each input: the page schema, or the staged table's footer."""
        if self.paged:
            self.schema()
        else:
            self.spark.read.parquet(self.raw_path)

    def extract(self, config, start, end):
        from social_warner_spark import extract as ex
        from social_warner_spark.sources import read_paged

        t = self.tracer
        cid = config.config_id
        t.begin_op(cid, f"b{self.batch}:{cid}")
        self.stats[cid] = {"start": time.perf_counter(), "pages": 0, "rows": 0}
        with t.span("extract.build_extract_query"):
            q = ex.build_extract_query(config, start, end, self.anchor)
        if self.paged:
            def fetch_pages():
                for page in self.pages[q.dataset_id]:
                    self.stats[cid]["pages"] += 1
                    self.stats[cid]["rows"] += len(page)
                    yield page

            with t.span("sources.read_paged", jobs=True):
                df = read_paged(self.spark, fetch_pages, self.schema())
        else:
            self.stats[cid]["rows"] = self.spec["input_rows"]
            with t.span("sources.read_parquet", jobs=True):
                df = self.spark.read.parquet(self.raw_path)
        with t.span("extract.compile_filters"):
            pred = ex.compile_filters(q.filters, self.anchor)
        df = df.where(pred)
        self.extracted[cid] = df
        return df

    def load(self, df, config) -> int:
        from social_warner_spark.sinks import WriteDisposition, write_table

        cid = config.config_id
        with self.tracer.span("sinks.write_table", jobs=True):
            rows = write_table(df, os.path.join(self.sink, config.sink_table_name),
                               WriteDisposition.WRITE_TRUNCATE)
        st = self.stats[cid]
        st["seconds"] = time.perf_counter() - st["start"]
        st["loaded"] = rows
        return rows

    def install_wrappers(self) -> None:
        from social_warner_spark import pipeline, service

        self.tracer.wrap(pipeline, "transform_config_frame",
                         "pipeline.transform_config_frame", jobs=True)
        self.tracer.wrap(service, "run_configs", "pipeline.run_configs")

    def run_batch(self, traced: bool) -> dict:
        from social_warner_spark.caching import release_persisted_intermediates
        from social_warner_spark.service import handle_request

        t = self.tracer
        t.batch = self.batch
        self.stats, self.extracted = {}, {}
        t0 = time.perf_counter()
        with t.span("service.handle_request"):
            body, code = handle_request(gen.PAYLOAD, self.configs, self.extract,
                                        self.load, anchor=self.anchor)
        with t.span("caching.release_persisted_intermediates"):
            released = release_persisted_intermediates()
        seconds = time.perf_counter() - t0
        failed_ids = set(body.get("failed", []))
        rows = 0
        for cid in self.configs:
            st = self.stats.get(cid, {})
            bad = cid in failed_ids or "loaded" not in st or not self.check(cid, st["loaded"])
            rows += st.get("loaded", 0)
            t.op, t.group = cid, f"b{self.batch}:{cid}"
            t.end_op(self.batch, seconds=st.get("seconds"), failed=bad,
                     pages=st.get("pages", 0), rows_read=st.get("rows", 0),
                     loaded=st.get("loaded", 0))
        if traced:
            self.spark.sparkContext.setJobGroup("perfbench-extras", "extras")
            for op in t.ops[-len(self.configs):]:
                op.update(self.traced_extras(op["op"]))
        self.batch += 1
        return {"seconds": seconds, "rows": rows, "released": released}

    def traced_extras(self, cid: str) -> dict:
        """Rows kept by the extract filters and bytes written; measured
        after the batch so neither enters the timed region."""
        out = {}
        if cid in self.extracted:
            out["rows_kept"] = self.extracted[cid].count()
        path = os.path.join(self.sink, self.configs[cid].sink_table_name)
        out["bytes_written"] = sum(
            os.path.getsize(os.path.join(p, f))
            for p, _, fs in os.walk(path) for f in fs
            if not f.startswith((".", "_")))
        return out

    def check(self, cid: str, loaded: int) -> bool:
        """Rows loaded, output columns and the impressions sum against the
        generator's independently computed values."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        exp = self.expected[cid]
        try:
            table = pq.read_table(os.path.join(self.sink, self.configs[cid].sink_table_name))
            imp = pc.sum(table.column("metric&impressions")).as_py() or 0
        except Exception as exc:
            print(f"check {cid}: {exc!r}", file=sys.stderr)
            return False
        return (loaded == exp["rows"] and table.num_rows == exp["rows"]
                and table.column_names == exp["columns"] and imp == exp["impressions"])


# --------------------------------------------------------------------------
# Query workloads
# --------------------------------------------------------------------------


class Queries:
    """One pass over the workload's query list per batch; an op is one
    query: release the previous query's persisted intermediates, build the
    DataFrame, collect it."""

    def __init__(self, spark, tracer: Tracer, spec: dict):
        from social_warner_spark.queries import all_queries

        self.spark, self.tracer, self.spec = spark, tracer, spec
        every = all_queries()
        self.names = spec["queries"]
        self.fns = {n: every[n] for n in self.names}
        self.sf_dir = spec["inputs"]
        self.batch = 0
        self.first: dict = {}

    def warm(self) -> None:
        """Touch each table: resolve its scan (reads the parquet footer)."""
        from social_warner_spark.catalog import TABLES, load_table

        for t in TABLES:
            load_table(self.spark, self.sf_dir, t)

    def install_wrappers(self) -> None:
        pass

    def run_batch(self, traced: bool) -> dict:
        from social_warner_spark.caching import release_persisted_intermediates

        t = self.tracer
        t.batch = self.batch
        rows, released = 0, 0
        t0 = time.perf_counter()
        for name in self.names:
            t.begin_op(name, f"b{self.batch}:{name}")
            a = time.perf_counter()
            pdf, bad = None, False
            try:
                with t.span("caching.release_persisted_intermediates"):
                    released += release_persisted_intermediates()
                with t.span("queries.build", jobs=True):
                    df = self.fns[name](self.spark, self.sf_dir)
                with t.span("queries.action", jobs=True):
                    pdf = df.toPandas()
            except Exception as exc:  # counted, the loop goes on
                bad = True
                print(f"op {name} raised: {exc!r}"[:2000], file=sys.stderr)
            seconds = time.perf_counter() - a
            if pdf is not None:
                rows += len(pdf)
                self.first.setdefault(name, pdf)
            t.end_op(self.batch, seconds=seconds, failed=bad,
                     rows_out=0 if pdf is None else len(pdf))
        seconds = time.perf_counter() - t0
        self.batch += 1
        return {"seconds": seconds, "rows": rows, "released": released}

    def check(self) -> dict:
        """Each query's first result against its DuckDB oracle, outside the
        timed region.  A wrong answer fails every op of that query."""
        from social_warner_spark.queries import all_oracles
        from tests.oracle_harness import compare, duck_connection

        sql = all_oracles()
        con = duck_connection(self.sf_dir)
        out = {}
        for n in self.names:
            if n not in self.first:
                out[n] = {"ok": False, "msg": "no result"}
                continue
            ok, msg = compare(_Frame(self.first[n]), con.execute(sql[n]).df())
            out[n] = {"ok": ok, "msg": msg}
        for op in self.tracer.ops:
            op["failed"] = op["failed"] or not out[op["op"]]["ok"]
        return out


# --------------------------------------------------------------------------


def main(spec_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    from social_warner_spark import session

    a = time.time()
    spark = session.get_spark(app_name="perfbench", master=f"local[{spec['cpus']}]")
    b = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    tracer = Tracer(spark.sparkContext)
    wl = (Queries if spec["workload"].startswith("queries") else Etl)(spark, tracer, spec)
    wl.warm()
    warm = time.time()
    setup = {"start_s": b - a, "warm_s": warm - b, "t_warm": warm}

    if spec["trace"]:
        wl.install_wrappers()
    batches = []
    deadline = time.perf_counter() + spec["seconds"]
    while len(batches) < spec["min_batches"] or time.perf_counter() < deadline:
        # A traced run traces batch 0, the one the end-to-end figures
        # time, then alternates untraced and traced batches so it can
        # report its own overhead on like-for-like (warm) batches.
        traced = bool(spec["trace"]) and len(batches) % 2 == 0
        tracer.enabled = traced
        rec = wl.run_batch(traced)
        tracer.enabled = False
        rec["traced"] = traced
        batches.append(rec)
    checks = wl.check() if isinstance(wl, Queries) else {}
    rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
    result = {"setup": setup, "batches": batches, "ops": tracer.ops,
              "spans": self_times(tracer.spans), "checks": checks, "peak_rss_mb": rss}
    with open(spec["result"], "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    code = main(sys.argv[1])
    sys.stdout.flush()
    sys.stderr.flush()
    # The result is on disk: skip the interpreter's teardown (about 1 s of
    # pyspark exit hooks); run.py kills what is left of the JVM.
    os._exit(code)
