"""Distributed deterministic page-corpus generator (bench/scale side).

cpg_spark.synth generates golden fixtures driver-side (pure python, small
n); this module generates the SAME page shape from spark.range — fully
distributed, deterministic for a given (seed, n) at ANY parallelism, so
the scaling benchmark feeds both cluster sizes byte-identical input.
Pseudo-randomness = xxhash64(id, salt, seed) — stable across runs and
partitionings, never rand()/monotonically_increasing_id.

Pages follow the BASELINE.json input_hint schema
(url, warc_ts, html binary, text, lang) and the synth.page_html template,
so functions.text.extract_text_col round-trips byte-identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import local_frame
from .synth import FILLER, OOV_NAMES, TARGET_LANGS, build_world

# lang wheel: each target lang twice + one non-target (skip-path coverage)
_LANG_WHEEL = list(TARGET_LANGS) * 2 + ["zz"]


def _weighted_surfaces() -> list[str]:
    """Alias surfaces with the hot entity (world[0]) oversampled to ~12%
    of draws — the skew fixture the salted aggregations exist for."""
    world = build_world()
    surfaces = [a for e in world for a in e.aliases]
    surfaces += list(OOV_NAMES)  # ~5% OOV -> inferred entities
    hot = list(world[0].aliases)
    n_hot = max(1, int(0.12 * len(surfaces) / (1 - 0.12)))
    return surfaces + hot * n_hot


def _h(seed: int, *cols: Column | str) -> Column:
    return F.xxhash64(F.lit(seed), *cols)


def _pick(arr: list[str], h: Column) -> Column:
    return F.element_at(
        F.array(*[F.lit(x) for x in arr]), (F.pmod(h, F.lit(len(arr))) + 1).cast("int")
    )


def synth_pages(spark: SparkSession, n_pages: int, seed: int = 42) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) — all Column expressions over
    spark.range(n): generation itself scales with the cluster."""
    surfaces = _weighted_surfaces()
    df = spark.range(n_pages).withColumn("pid", F.col("id").cast("long"))

    lang = _pick(_LANG_WHEEL, _h(seed, "pid"))
    n_sent = (F.pmod(_h(seed + 1, "pid"), F.lit(5)) + 2).cast("int")

    # sentence j = filler filler [Surface] filler filler .
    def sentence(j: Column) -> Column:
        w = lambda k: _pick(FILLER, _h(seed + 2, "pid") + j * 131 + F.lit(k))  # noqa: E731
        surf = _pick(surfaces, _h(seed + 3, "pid") + j * 677)
        with_mention = F.pmod(_h(seed + 4, "pid") + j * 919, F.lit(10)) < 7
        words = F.when(
            with_mention,
            F.concat_ws(" ", w(0), w(1), surf, w(2), w(3)),
        ).otherwise(F.concat_ws(" ", w(0), w(1), w(2), w(3)))
        return F.concat(words, F.lit("."))

    text = F.concat_ws(
        " ",
        F.transform(F.sequence(F.lit(0), n_sent - 1), lambda j: sentence(j)),
    )
    # ~3% empty/whitespace pages (robustness path)
    text = F.when(F.pmod(_h(seed + 5, "pid"), F.lit(33)) == 0, F.lit(" ")).otherwise(
        text
    )

    # page_html template (synth.page_html) as Column expressions; corpus
    # text is alnum+space+dot so the escape pass is the identity here, and
    # extraction (functions/text.py) is its exact inverse
    body = F.regexp_replace(text, r"\. ", ".</p><p> ")
    html = F.concat(
        F.lit('<!DOCTYPE html><html lang="'),
        lang,
        F.lit('"><head><meta charset="utf-8"><title>page '),
        F.col("pid").cast("string"),
        F.lit("</title><style>body{font-family:serif}</style>"),
        F.lit('<script>var t="x";</script></head><body><nav>home | about</nav>'),
        F.lit("<article><p>"),
        body,
        F.lit("</p></article><footer>&copy; 2024 example.org</footer></body></html>"),
    )

    return df.select(
        F.concat(F.lit("https://example.org/"), lang, F.lit("/p"), F.col("pid")).alias(
            "url"
        ),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(
            secs=F.col("pid").cast("double")
        )).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


def alias_dict_df(spark: SparkSession) -> DataFrame:
    """The broadcast alias dictionary as a DataFrame (driver-side build —
    dictionaries are small by design; at 100 TB this is an Iceberg dim
    table, still broadcast-sized)."""
    from .synth import alias_dict_rows

    cols = ("alias", "entity_id", "entity_name", "entity_type", "prior")
    rows = [tuple(r[c] for c in cols) for r in alias_dict_rows(build_world())]
    return local_frame(
        spark,
        rows,
        "alias string, entity_id string, entity_name string, "
        "entity_type string, prior double",
    )
