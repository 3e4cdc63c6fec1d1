"""Table schemas for the engine.

The reference's mutable JVM object graph (Node.kt class hierarchy +
PropertyEdge, see SURVEY.md §1.1) becomes a small set of columnar tables.
Sparse per-kind fields go into a map column instead of 70 subclasses.
Driver-built tables (fixtures, probe lists, alias dictionaries, driver
CC/SCC results) become frames through `local_frame`.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | T.StructType
) -> DataFrame:
    """Python rows as a frame: the one way the package turns rows built
    on the driver into a DataFrame. `schema` is a DDL string or a
    StructType. The rows go through a pyarrow table, so the plan leaf is
    a LocalRelation (LocalTableScan) and reading the frame starts no
    Python worker, where `createDataFrame` of a row list parallelizes
    pickled rows through one. A build costs ~0.02 s, so nothing caches
    the frames."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


# ---------------------------------------------------------------------------
# Input: Common-Crawl-style pages (BASELINE.json input_hint — fixed schema)
# ---------------------------------------------------------------------------
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# extract stage output: one row per sentence
# (frontend AST-emission analog; sent_idx is the EOG INDEX property analog,
#  reference graph/edge/Properties.java:43-50)
# ---------------------------------------------------------------------------
SENTENCES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("sentence", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# mention detection output (AST-node / DeclaredReference emission analog)
# ---------------------------------------------------------------------------
MENTIONS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("tok_idx", T.IntegerType(), False),
        T.StructField("alias_norm", T.StringType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("n_words", T.IntegerType(), False),
    ]
)

# ---------------------------------------------------------------------------
# broadcast alias dictionary (symbol-table analog,
# reference passes/SymbolResolverPass.kt:39-59 recordMap)
# ---------------------------------------------------------------------------
ALIAS_DICT = T.StructType(
    [
        T.StructField("alias", T.StringType(), False),
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("entity_name", T.StringType(), False),
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("prior", T.DoubleType(), False),
    ]
)

# ---------------------------------------------------------------------------
# linked mentions (ref -> decl resolution analog,
# reference passes/VariableUsageResolver.kt:128-200)
# ---------------------------------------------------------------------------
LINKS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("tok_idx", T.IntegerType(), False),
        T.StructField("alias_norm", T.StringType(), False),
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("entity_name", T.StringType(), True),
        T.StructField("entity_type", T.StringType(), True),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("is_inferred", T.BooleanType(), False),
    ]
)

# ---------------------------------------------------------------------------
# triples: the edge emissions (DFG/EOG/INVOKES/REFERS_TO edge analog,
# reference Node.kt:110-154). Closed predicate set per FIXTURES.md §3.
# ---------------------------------------------------------------------------
PREDICATES = ("mentions", "co_occurs_with", "linked_to", "typed_as")

TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("sent_idx", T.IntegerType(), True),
    ]
)

# materialized, deduplicated graph (Neo4j-push analog)
TRIPLES_AGG = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("n_evidence", T.LongType(), False),
    ]
)

NODES = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("entity_type", T.StringType(), True),
        T.StructField("is_inferred", T.BooleanType(), False),
        T.StructField("n_mentions", T.LongType(), True),
        T.StructField("n_pages", T.LongType(), True),
    ]
)

# canonicalization: connected-component labels
COMPONENTS = T.StructType(
    [
        T.StructField("member_id", T.StringType(), False),
        T.StructField("component_id", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# lineage: one row per (stage, partition) — the reference's
# StatisticsHolder/Benchmark rows made durable
# (helpers/MeasurementHolder.kt:39-84), FIXTURES.md §6 schema.
# ---------------------------------------------------------------------------
LINEAGE = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("input_split", T.StringType(), True),
        T.StructField("rows_in", T.LongType(), True),
        T.StructField("rows_out", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        T.StructField("snapshot_id", T.LongType(), True),
    ]
)
