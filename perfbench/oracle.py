"""Correctness gate: every output the benchmark times is checked against
DuckDB, outside the timed region.  Each function returns a list of
mismatch descriptions; an empty list means the outputs are correct."""

from __future__ import annotations

import glob
import tempfile

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

from perfbench import frames

STATE_COLS = ["pk", "offset", "op", "event_type", "value"]


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    return con


def _decoded(con, source_dir: str) -> None:
    """A ``frames`` table: every record decoded from its Debezium JSON the
    way the Debezium spec reads it (post-image, pre-image for deletes)."""
    files = sorted(glob.glob(f"{source_dir}/*.parquet"))
    con.execute(
        f"""
        CREATE OR REPLACE TEMP TABLE raw AS
        SELECT "offset" AS off, "partition" AS part, decode(value) AS v, decode(key) AS k
        FROM read_parquet({files!r})
        """
    )
    con.execute(
        """
        CREATE OR REPLACE TEMP TABLE frames AS
        SELECT off, part, v, k, op, op IS NOT NULL AS healthy
        FROM (SELECT *, CASE WHEN json_valid(v) THEN json_extract_string(v, '$.op') END AS op
              FROM raw)
        """
    )


def _arrow_equal(name: str, got: pa.Table, want: pa.Table, key: str) -> list[str]:
    if got.num_rows != want.num_rows:
        return [f"{name}: {got.num_rows} rows, oracle {want.num_rows}"]
    got, want = got.sort_by(key), want.sort_by(key)
    bad = []
    for col in want.column_names:
        a = got.column(col).combine_chunks()
        b = want.column(col).combine_chunks().cast(a.type)
        if not a.equals(b):
            diff = pc.sum(pc.cast(pc.invert(pc.fill_null(pc.equal(a, b), False)), pa.int64()))
            bad.append(f"{name}.{col}: {diff.as_py()} of {a.length()} values differ")
    return bad


def check_ingest(spark, source_dir: str, seed_keys: int, upsert, append, dlq) -> list[str]:
    """Upsert live state = latest-per-key over the seed and healthy records;
    append exactly-once count = healthy record count; DLQ = poison records."""
    con = _connect()
    try:
        _decoded(con, source_dir)
        etypes = "[" + ", ".join(f"'{e}'" for e in frames.EVENT_TYPES) + "]"
        want_state = con.execute(
            f"""
            WITH rows AS (
                SELECT CAST(coalesce(json_extract(k, '$.id'),
                                     json_extract(v, '$.after.id'),
                                     json_extract(v, '$.before.id')) AS BIGINT) AS pk,
                       off AS "offset", op,
                       json_extract_string(v, CASE WHEN op = 'd' THEN '$.before.event_type'
                                                   ELSE '$.after.event_type' END) AS event_type,
                       CAST(json_extract(v, CASE WHEN op = 'd' THEN '$.before.value'
                                                 ELSE '$.after.value' END) AS DOUBLE) AS value
                FROM frames WHERE healthy
                UNION ALL
                SELECT i, i, 'c', {etypes}[i % 5 + 1], (i % 100000) / 100.0
                FROM range({seed_keys}) t(i)
            ),
            latest AS (
                SELECT *, row_number() OVER (PARTITION BY pk ORDER BY "offset" DESC) AS rn
                FROM rows
            )
            SELECT pk, "offset", op, event_type, value FROM latest WHERE rn = 1 AND op <> 'd'
            """
        ).arrow()
        n_healthy, = con.execute("SELECT count(*) FROM frames WHERE healthy").fetchone()
        want_dlq = con.execute(
            "SELECT part AS partition, off AS \"offset\" FROM frames WHERE NOT healthy"
        ).arrow()
    finally:
        con.close()

    problems = _arrow_equal(
        "upsert.state", upsert.state(spark).select(*STATE_COLS).toArrow(), want_state, "pk"
    )
    n_append = append.exactly_once_view(spark).count()
    if n_append != n_healthy:
        problems.append(f"append.exactly_once_view: {n_append} rows, oracle {n_healthy}")
    got_dlq = dlq.read(spark)
    sink_ids = {r[0] for r in got_dlq.select("dlq_sink_id").distinct().collect()}
    if sink_ids - {"decode"}:
        problems.append(f"dlq: unexpected sink failures {sorted(sink_ids - {'decode'})}")
    problems += _arrow_equal(
        "dlq",
        got_dlq.select(
            got_dlq.dlq_source_partition.alias("partition"),
            got_dlq.dlq_source_offset.alias("offset"),
        ).toArrow(),
        want_dlq,
        "offset",
    )
    return problems


def check_queries(results: dict[str, pa.Table], sf_dir: str, registry) -> list[str]:
    """Each headline query's collected result equals its registry DuckDB
    oracle, compared as sorted rows with exact values."""
    from cdc_platform_spark.sources.registry import TABLES

    con = _connect()
    problems = []
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name, got in results.items():
            want = con.execute(registry[name].oracle).arrow()
            problems += _rows_equal(name, got, want)
    finally:
        con.close()
    return problems


def _canonical(table: pa.Table) -> list[tuple]:
    cols = sorted(table.column_names)
    rows = zip(*(_values(table.column(c)) for c in cols))
    return sorted(rows, key=lambda r: tuple((v is None, v if v is not None else 0) for v in r))


def _values(col: pa.ChunkedArray) -> list:
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
    elif pa.types.is_date(col.type):
        col = pc.cast(col, pa.int32())
    elif pa.types.is_decimal(col.type):
        col = pc.cast(col, pa.float64())
    elif pa.types.is_integer(col.type):
        col = pc.cast(col, pa.int64())
    return col.to_pylist()


def _rows_equal(name: str, got: pa.Table, want: pa.Table) -> list[str]:
    if sorted(got.column_names) != sorted(want.column_names):
        return [f"{name}: columns {sorted(got.column_names)}, oracle {sorted(want.column_names)}"]
    if got.num_rows != want.num_rows:
        return [f"{name}: {got.num_rows} rows, oracle {want.num_rows}"]
    a, b = _canonical(got), _canonical(want)
    bad = sum(1 for x, y in zip(a, b) if x != y)
    return [f"{name}: {bad} of {len(a)} rows differ"] if bad else []
