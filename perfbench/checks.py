"""Output checks. Every check returns a list of problems (empty == pass);
the workloads charge a failed check to the operation whose output it
examined, which is how ``failed`` and ``error_rate`` are counted."""

from __future__ import annotations

import functools
import hashlib
import re

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stripe_data_pipeline_spark.models.calendar import calendar_sql
from stripe_data_pipeline_spark.plans import analyst
from stripe_data_pipeline_spark.testing import compare, norm_rows

# table -> merge key, as plans.pipeline lands it
TABLE_KEYS = {
    "stg_invoices": ["id"],
    "stg_subscriptions": ["id"],
    "stg_subscription_updates": ["id"],
    "invoices": ["invoice_id"],
    "invoice_line_items": ["line_item_id"],
    "subscription_states": ["subscription_id"],
    "deferred_revenue": ["line_item_id", "as_of_date"],
    "recognized_revenue": ["line_item_id", "recognition_date"],
}
REL_TOL = 1e-9  # money invariants hold to rounding of a few float ops


def _hashable(df: DataFrame) -> list:
    """Columns in name order; nested and map columns through their JSON
    text, which xxhash64 accepts."""
    nested = (T.ArrayType, T.MapType, T.StructType)
    return [
        F.to_json(F.col(f.name)) if isinstance(f.dataType, nested) else F.col(f.name)
        for f in sorted(df.schema.fields, key=lambda f: f.name)
    ]


def _per_table(tables: dict[str, DataFrame], column, agg) -> dict:
    """One query over every table: ``agg`` of ``column(name, df)``, by table."""
    parts = [df.select(F.lit(name).alias("t"), column(name, df).alias("v")) for name, df in tables.items()]
    rows = functools.reduce(DataFrame.unionByName, parts).groupBy("t").agg(*agg).collect()
    return {r[0]: tuple(r[1:]) for r in rows}


def table_digests(*runs: dict[str, DataFrame]) -> list[dict[str, tuple[int, int]]]:
    """Per run and table: (row count, sum of 64-bit row hashes), all in
    one Spark job. The sum is order-free, so it equals the digest of the
    rows sorted."""
    tables = {f"{i}.{name}": df for i, run in enumerate(runs) for name, df in run.items()}
    got = _per_table(
        tables,
        lambda name, df: F.xxhash64(*_hashable(df)).cast("decimal(38,0)"),
        [F.count("*"), F.sum("v")],
    )
    return [
        {name: (got[k][0], int(got[k][1])) if (k := f"{i}.{name}") in got else (0, 0) for name in run}
        for i, run in enumerate(runs)
    ]


def digest_diff(label: str, got: dict, want: dict) -> list[str]:
    return [
        f"{label}: {name} digest {got.get(name)} != {want.get(name)}"
        for name in sorted(set(got) | set(want))
        if got.get(name) != want.get(name)
    ]


def mart_invariants(tables: dict[str, DataFrame]) -> list[str]:
    """Merge keys unique in every table; deferred + recognized = amount
    on every deferred row; Σ daily = amount per line item in the
    recognized mart."""
    keys = _per_table(
        tables,
        lambda name, df: F.to_json(F.struct(*TABLE_KEYS[name])),
        [F.count("*"), F.count_distinct("v")],
    )
    errs = [f"{name}: {n - k} duplicate {TABLE_KEYS[name]} keys" for name, (n, k) in keys.items() if n != k]
    tol = lambda amount: F.lit(REL_TOL) * F.greatest(F.lit(1.0), F.abs(amount))  # noqa: E731
    d = tables["deferred_revenue"]
    amount = F.col("amount_without_tax_usd")
    bad = d.filter(
        F.abs(F.col("deferred_revenue_usd") + F.col("recognized_revenue_usd") - amount) > tol(amount)
    ).limit(1).count()
    if bad:
        errs.append("deferred_revenue: deferred + recognized != amount")
    r = (
        tables["recognized_revenue"]
        .groupBy("line_item_id")
        .agg(F.sum("daily_revenue_usd").alias("s"), F.first("amount_without_tax_usd").alias("m"))
    )
    if r.filter(F.abs(F.col("s") - F.col("m")) > tol(F.col("m"))).limit(1).count():
        errs.append("recognized_revenue: sum(daily) != amount")
    return errs


class _SqlText:
    """Stands in for a SparkSession so an analyst function hands back
    its SQL text; the oracle then runs the very same text."""

    def sql(self, text: str) -> str:
        return text


class AnalystOracle:
    """DuckDB over the collected marts: the expected answer of every
    analyst call, computed from the same SQL text Spark ran."""

    def __init__(self, tables: dict[str, DataFrame], cal_start, cal_end):
        self.con = duckdb.connect(config={"threads": "2", "memory_limit": "1GB"})
        for name in analyst.MART_TABLES:
            self.con.register(name, tables[name].toArrow())
        self.con.execute(f"CREATE VIEW calendar AS {calendar_sql(cal_start, cal_end)}")
        self._cache: dict = {}

    def expected(self, query: str, args: tuple) -> list[tuple]:
        key = (query, args)
        if key not in self._cache:
            text = getattr(analyst, query)(_SqlText(), *args)
            self._cache[key] = self.con.execute(text).fetchall()
        return self._cache[key]

    def check(self, query: str, args: tuple, rows: list[tuple]) -> list[str]:
        want = self.expected(query, args)
        return [] if rows == want else [f"{query}{args}: spark {rows[:3]} != duckdb {want[:3]}"]

    def close(self) -> None:
        self.con.close()


def corpus_oracle(sf_dir: str) -> duckdb.DuckDBPyConnection:
    # the heaviest oracle (bpe_encoded_docs) peaks near 0.2 GB once its
    # CTEs are materialized (see corpus_check)
    con = duckdb.connect(config={"threads": "2", "memory_limit": "2GB"})
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def corpus_check(con, oracle_sql: str, cols: list[str], rows: list[tuple]) -> list[str]:
    """``testing.check_query``'s comparison, on rows already collected.

    Every CTE of the oracle is evaluated once (``AS MATERIALIZED``),
    which leaves its result unchanged. DuckDB 1.0 otherwise inlines each
    reference: the BPE oracles' ten merge stages each read the previous
    stage twice, so the first stage would run 2^10 times and exceed 2 GB
    on 500 documents."""
    cur = con.execute(re.sub(r"^((?:WITH )?\w+) AS \(", r"\1 AS MATERIALIZED (", oracle_sql, flags=re.M))
    return compare(cols, rows, [c[0] for c in cur.description], cur.fetchall())


def rows_digest(cols: list[str], rows: list[tuple]) -> str:
    names, normed = norm_rows(cols, rows)
    return hashlib.sha256(repr((names, normed)).encode()).hexdigest()
