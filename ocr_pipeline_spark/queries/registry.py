"""The query registry and the helpers the query families share.

A driver query is a `(spark, sf_dir) -> DataFrame` function named
`_q_<name>`, registered with `@query` where it is defined.  Its oracle
is DuckDB SQL over the same tables (a string, or a zero-argument
function that builds the SQL when `oracle_sql()` is called), or None
for a query checked by rows only.  `window` puts it in the first 50
entries of `queries()`, the only ones the driver's correctness harness
evaluates.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Query(NamedTuple):
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | Callable[[], str] | None
    window: bool


REGISTRY: dict[str, Query] = {}


def query(oracle: str | Callable[[], str] | None = None, window: bool = False):
    def register(fn):
        name = fn.__name__.removeprefix("_q_")
        assert name not in REGISTRY, f"query {name} registered twice"
        assert oracle is not None or not window, f"{name}: window needs an oracle"
        REGISTRY[name] = Query(fn, oracle, window)
        return fn

    return register


# Golden-witness fixtures (scripts/gen_witness.py): single-process
# kernel-loop outputs for the byte-deterministic extraction family,
# giving them full DuckDB hash oracles (SELECT over the witness) even
# though the computation itself is not SQL-expressible.  Pinned to the
# driver's correctness scale (sf0.01).
_WITNESS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests", "fixtures", "witness",
)


def witness(name: str, columns: str, order: str) -> str:
    """Oracle that reads witness `name` as it is."""
    return (
        f"SELECT {columns} FROM read_parquet('{_WITNESS_DIR}/{name}.parquet') "
        f"ORDER BY {order}"
    )


def sf_of(sf_dir: str) -> float:
    """Scale factor of a `.../sf<N>` table directory."""
    return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _synth_urls(d: DataFrame) -> DataFrame:
    """Deterministic synthetic url per document — the ONE url-shape
    definition shared by every crawl-side query (robots_filter,
    snapshot_diff, frontier_schedule; their SQL twins spell the same
    strings).  Keeps doc_id/text/lang and adds url, host, path, hn
    (the numeric host id the per-host rule synthesizers key on)."""
    return d.select(
        "doc_id",
        "text",
        "lang",
        F.concat(F.lit("https://"), "source",
                 F.lit(".example.com/docs/"), "doc_id").alias("url"),
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(F.lit("/docs/"), "doc_id").alias("path"),
        F.regexp_extract("source", r"src(\d+)", 1).cast("int").alias("hn"),
    )
