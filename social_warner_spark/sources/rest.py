"""Paginated REST source (SURVEY.md A1: per-page fetch → DataFrame).

The reference iterates API result pages on the driver and pandas-concats
them (data_extract.py:89-94) — single-process, memory-bound.  Two Spark
surfaces replace it:

- `PagedRestDataSource`: a Spark 4 Python DataSource where EACH PAGE IS A
  PARTITION — page fetches run on executors in parallel, nothing is
  concatenated in driver memory.  The fetcher is addressed by module path
  (must be importable on executors) because DataSource options are strings.
- `read_paged`: driver-side reader for clients that can't plan partition
  counts up front (unknown page count, sequential cursors).  Each fetched
  page becomes one Arrow record batch; the batches reach Spark as one Arrow
  table and are decoded in the JVM (``ArrowConverters``), so no action on
  the result starts a Python worker.  Rows are first checked by the same
  verifier ``createDataFrame(rows, schema)`` runs and rendered the way it
  renders them (see `read_paged`).

Auth/secret retrieval (reference utils.py:78-92) is a driver concern:
`resolve_credentials` runs a pluggable CredentialProvider ONCE on the
driver and threads the materialized credentials into the fetcher options —
executors never fetch secrets per-partition.  The default provider reads a
JSON blob from an environment variable (the generic stand-in for the
reference's secret-manager lookup; swap in any callable for a real store).
"""

from __future__ import annotations

import importlib
import json
import os
from typing import Callable, Iterable, Iterator, Mapping, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _create_converter, _make_type_verifier

try:  # Spark 4 Python DataSource API
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    _HAS_DATASOURCE_API = True
except ImportError:  # pragma: no cover - older Spark
    _HAS_DATASOURCE_API = False
    DataSource = object  # type: ignore[assignment,misc]
    DataSourceReader = object  # type: ignore[assignment,misc]
    InputPartition = object  # type: ignore[assignment,misc]


PageFetcher = Callable[[int, dict], Iterable[dict]]
"""(page_index, options) -> iterable of row dicts for that page."""

CredentialProvider = Callable[[], Mapping[str, str]]
"""() -> credential mapping (e.g. client_id/client_secret/api_key —
reference utils.py:86-92 builds its API client from exactly such a doc)."""

# key contains "secret" so Spark's default redaction regex
# ((?i)secret|password|token|access[.]key) masks it in explain output,
# the UI Environment/SQL tabs, and event logs
CREDENTIALS_OPTION = "credentials_secret_json"
DEFAULT_CREDENTIALS_ENV = "SOCIAL_WARNER_CREDENTIALS"


def env_credential_provider(env_var: str = DEFAULT_CREDENTIALS_ENV) -> CredentialProvider:
    """Default provider: parse a JSON credential blob from an env var.

    Mirrors the reference's get_secret('LF_CREDENTIALS') → json.loads
    (utils.py:78-92) with the secret store abstracted to the environment;
    raises KeyError when unset (fail fast, never a silent anonymous run).
    """

    def provider() -> Mapping[str, str]:
        raw = os.environ.get(env_var)
        if raw is None:
            raise KeyError(f"credential env var {env_var!r} is not set")
        return json.loads(raw)

    return provider


def resolve_credentials(
    options: Mapping[str, str], provider: CredentialProvider | None = None
) -> dict[str, str]:
    """Resolve credentials ONCE (driver-side) into fetcher options (A17).

    DataSource options are strings, so the credential mapping is embedded
    as JSON under ``credentials_json``; fetchers json-load it.  Executors
    receive materialized credentials with the serialized options and never
    call the secret store themselves.
    """
    provider = provider or env_credential_provider()
    out = dict(options)
    out[CREDENTIALS_OPTION] = json.dumps(dict(provider()), sort_keys=True)
    return out


def resolve_fetcher(path: str) -> PageFetcher:
    """'package.module:function' → callable (executor-side import)."""
    mod_name, _, fn_name = path.partition(":")
    mod = importlib.import_module(mod_name)
    return getattr(mod, fn_name)


if _HAS_DATASOURCE_API:

    class _PagePartition(InputPartition):
        def __init__(self, index: int):
            self.index = index

    class _PagedRestReader(DataSourceReader):
        def __init__(self, schema: StructType, options: dict):
            self._schema = schema
            self._options = dict(options)

        def partitions(self) -> Sequence[InputPartition]:
            n = int(self._options.get("num_pages", "1"))
            return [_PagePartition(i) for i in range(n)]

        def read(self, partition: _PagePartition) -> Iterator[tuple]:
            fetch = resolve_fetcher(self._options["fetcher"])
            names = [f.name for f in self._schema.fields]
            for row in fetch(partition.index, self._options):
                yield tuple(row.get(name) for name in names)

    class PagedRestDataSource(DataSource):
        """spark.read.format("paged_rest")
        .schema(...)
        .option("fetcher", "my_module:fetch_page")
        .option("num_pages", "8").load()

        Register once per session:
        ``spark.dataSource.register(PagedRestDataSource)``.
        """

        @classmethod
        def name(cls) -> str:
            return "paged_rest"

        def schema(self) -> str | StructType:
            if "schema_json" in self.options:
                return StructType.fromJson(json.loads(self.options["schema_json"]))
            raise ValueError("paged_rest requires an explicit .schema(...)")

        def reader(self, schema: StructType) -> DataSourceReader:
            return _PagedRestReader(schema, self.options)

else:  # pragma: no cover

    class PagedRestDataSource:  # type: ignore[no-redef]
        def __init__(self, *_, **__):
            raise NotImplementedError(
                "Spark 4 Python DataSource API unavailable; use read_paged()"
            )


def read_paged(
    spark: SparkSession,
    fetch_pages: Callable[[], Iterable[Iterable[dict]]],
    schema: StructType | str,
) -> DataFrame | None:
    """Driver-side paginated read: generator of pages → one DataFrame.

    Each non-empty page is built into one ``pyarrow.RecordBatch`` against
    ``to_arrow_schema(schema)``; the batches go to Spark as one Arrow table,
    which the JVM decodes.  An extract under
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a local
    relation in the plan; a larger one is parallelized one batch (page) per
    partition.  Either way no action on the result runs a Python worker.
    Empty pages add no batch: they hold no rows, and Spark's local-relation
    decode stops at the first empty batch, dropping every page after it.

    Verify-then-render contract, so the result equals
    ``spark.createDataFrame(rows, schema)``: every row first passes that
    call's verifier (``verifySchema=True``), which rejects e.g. ``"ab"`` for
    ``array<string>`` and ``1.0`` or ``True`` for ``long`` (Arrow would take
    them), then goes through its converter, which renders accepted non-str
    values in string fields as ``str(v)`` (bools lowercase).  Missing keys
    become nulls and extra keys are dropped.  Values then take the row
    path's internal form (``schema.toInternal``: dates as epoch days,
    timestamps as UTC microseconds with naive ones read in local time),
    which the Arrow arrays hold as is.  A DDL-string ``schema`` is parsed
    with ``StructType.fromDDL``.

    Returns None when the source yields no pages (reference skip-empty
    semantics, main.py:80-85).
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    convert = _create_converter(schema)
    arrow_schema = to_arrow_schema(schema)
    batches, pages = [], 0
    for page in fetch_pages():
        pages += 1
        rows = []
        for obj in page:
            verify(obj)
            rows.append(schema.toInternal(convert(obj)))
        if rows:
            columns = zip(*rows)
            batches.append(pa.RecordBatch.from_arrays(
                [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
                schema=arrow_schema,
            ))
    if not pages:
        return None
    return spark.createDataFrame(pa.Table.from_batches(batches, arrow_schema), schema=schema)
