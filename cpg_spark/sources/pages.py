"""Page-table sources.

Three ways to get a pages(url, warc_ts, html, text, lang) DataFrame:
  * read_pages          — parquet/Iceberg path (production path)
  * synth_pages         — in-memory deterministic corpus (tests/golden)
  * pages_from_documents— derive pages from the driver's documents
                          testdata table, building html JVM-side from the
                          same template as synth.page_html (used by the
                          oracle-checked queries and the benchmark; the
                          derivation is pure SQL so DuckDB can mirror it)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import synth
from ..schema import PAGES


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(PAGES).parquet(path)


def synth_pages(spark: SparkSession, n_pages: int, seed: int = 42) -> DataFrame:
    corpus = synth.make_corpus(n_pages, seed)
    return spark.createDataFrame(corpus["pages"], PAGES)


# template pieces shared with synth.page_html — kept in one place so the
# JVM-side builder and the python builder can never drift
_HTML_PRE = (
    '<!DOCTYPE html><html lang="{lang}"><head><meta charset="utf-8">'
    "<title>{title}</title><style>body{{font-family:serif}}</style>"
    '<script>var t="x";</script></head><body><nav>home | about</nav>'
    "<article><p>"
)
_HTML_POST = "</p></article><footer>&copy; 2024 example.org</footer></body></html>"


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically derive a pages table from the driver-provided
    documents parquet. html is built with the synth template entirely in
    Column expressions (escape & < >, sentence-break markup) so the
    extract stage exercises real stripping work at benchmark scale."""
    from ..queries import t  # lazy: avoids the queries->sources cycle

    docs = t(spark, sf_dir, "documents")  # per-session scan-plan cache
    esc = F.col("text")
    esc = F.replace(esc, F.lit("&"), F.lit("&amp;"))
    esc = F.replace(esc, F.lit("<"), F.lit("&lt;"))
    esc = F.replace(esc, F.lit(">"), F.lit("&gt;"))
    body = F.replace(esc, F.lit(". "), F.lit(".</p><p> "))
    pre = F.concat(
        F.lit('<!DOCTYPE html><html lang="'),
        F.col("lang"),
        F.lit('"><head><meta charset="utf-8"><title>'),
        F.concat(F.lit("doc "), F.col("doc_id").cast("string")),
        F.lit(
            '</title><style>body{font-family:serif}</style><script>var t="x";'
            "</script></head><body><nav>home | about</nav><article><p>"
        ),
    )
    html = F.encode(F.concat(pre, body, F.lit(_HTML_POST)), "UTF-8")
    return docs.select(
        F.concat(
            F.lit("https://example.org/"), F.col("lang"), F.lit("/"), F.col("doc_id")
        ).alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(secs=F.col("doc_id"))).alias("warc_ts"),
        html.alias("html"),
        F.col("text"),
        F.col("lang"),
    )
