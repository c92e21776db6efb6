"""Registry mapping query names → (Spark callable, optional DuckDB oracle).

The driver (``__spark_entry__.py``) compares each Spark query with its
oracle at sf0.01 by row-count + schema + order-insensitive value hash,
with columns sorted by name — so every computed column is aliased
identically on both sides, doubles are rounded to a fixed scale on both
sides, and non-deterministic columns are excluded.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, MapType, StructType

from fintech_lakehouse_spark.sources.readers import table_fingerprint

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def assert_hashable_schema(name: str, df: DataFrame) -> DataFrame:
    """Fail fast if a query's output schema would crash the driver.

    The driver's pandas value-hasher raises ``TypeError: unhashable``
    on list/dict cells, which is what a top-level ArrayType / MapType /
    StructType column becomes under ``toPandas()`` (the r1 driver crash
    class — CORRECTNESS_r01 ``segment_nation_arrays``). Nested types
    are fine INSIDE the plan; the registered result must encode them as
    scalars (sorted concat, struct fields as columns, hex digests)."""
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    if bad:
        raise TypeError(
            f"registered query {name!r} returns driver-unhashable "
            f"top-level column(s): {', '.join(bad)} — encode as scalars"
        )
    return df


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the driver-visible registry.

    ``oracle`` is ANSI SQL for DuckDB over the same parquet tables
    (views: region nation customer supplier part orders lineitem events
    documents embeddings). Omit it only for genuinely
    non-SQL-expressible ops (the driver then records a weaker rows-only
    check — SURVEY.md §5).

    Every registered callable is wrapped with a schema guard: building
    the query asserts the result has no top-level Array/Map/Struct
    column (see :func:`assert_hashable_schema`) — cheap insurance, the
    check reads the analyzed schema only, it never runs the job.
    """

    def wrap(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def checked(spark: SparkSession, sf_dir: str) -> DataFrame:
            return assert_hashable_schema(name, fn(spark, sf_dir))

        QUERIES[name] = checked
        if oracle is not None:
            ORACLES[name] = oracle
        return checked

    return wrap


# The one module-level cache of DataFrames (see stage_cache): key
# (session id, stage name, input table paths) → (session — held so its
# id() is never recycled, input fingerprints, frame handed out, frames
# to unpersist).
_STAGES: dict[tuple, tuple] = {}


def _unpersist(frames: list[DataFrame]) -> None:
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release


def stage_cache(
    spark: SparkSession,
    name: str,
    tables: tuple[str, ...],
    build: Callable[[Callable[[DataFrame], DataFrame]], DataFrame],
) -> DataFrame:
    """Build a stage several queries share once per (session, input
    snapshot) — at 100 TB, "persist the pair table once per corpus
    snapshot"; the session work-reuse of incremental top-k similarity
    search (EDBT 2020, PAPERS.md). The entry records each input table's
    file fingerprint (sources/readers.py::table_fingerprint); when one
    changes, the entry is unpersisted and rebuilt, so a rewritten table
    never serves stale results.

    ``build(persist)`` returns the frame to hand out; every frame it
    passes through ``persist`` is cached, and the entry unpersists it
    on rebuild and on :func:`reset_stage_caches`."""
    key = (id(spark), name, tuple(tables))
    version = tuple(table_fingerprint(t) for t in tables)
    entry = _STAGES.get(key)
    if entry is not None:
        if entry[1] == version:
            return entry[2]
        _unpersist(_STAGES.pop(key)[3])
    owned: list[DataFrame] = []

    def persist(df: DataFrame) -> DataFrame:
        owned.append(df.cache())
        return df

    try:
        result = build(persist)
    except BaseException:
        _unpersist(owned)
        raise
    _STAGES[key] = (spark, version, result, owned)
    return result


def reset_stage_caches() -> None:
    """Unpersist and drop every :func:`stage_cache` entry. Benchmarks
    MUST call this between timed repeats: warm, a minhash_lsh_pairs
    repeat measures a cache read (~0.1 s), not the shingle → signature
    → LSH → verify pipeline (~3 s at sf0.1; VERDICT r3 wrong-item 2).
    Stages free their intermediate caches once built, so afterwards
    the CacheManager holds nothing a rebuild could silently reuse."""
    for entry in _STAGES.values():
        _unpersist(entry[3])
    _STAGES.clear()
