"""Extract-stage tests: the golden-text byte-identity contract and the
golden-graph-style fixtures (reference test strategy, SURVEY.md §5)."""

import hashlib

from pyspark.sql import functions as F

from cpg_spark.functions.text import extract_text_pandas, extract_text_py
from cpg_spark.operators import extract
from cpg_spark.synth import TARGET_LANGS, page_html


def test_extraction_byte_identical_column_path(spark, pages_df, corpus):
    """JVM Column extraction must return the original text byte-for-byte
    for every page (BASELINE.json per-row invariant)."""
    ext = extract.extracted_text(pages_df).withColumnRenamed("text", "etext")
    joined = ext.join(pages_df.select("url", "text"), "url")
    assert joined.filter(F.col("etext") != F.col("text")).count() == 0
    # and via sha256 against the golden_text fixture
    got = {
        r["url"]: hashlib.sha256(r["etext"].encode()).hexdigest()
        for r in joined.collect()
    }
    for g in corpus["golden_text"]:
        assert got[g["url"]] == g["text_sha256"]


def test_extraction_pandas_variant_matches_python_reference(corpus):
    for p in corpus["pages"][:10]:
        assert extract_text_py(p["html"]) == p["text"]
    import pandas as pd

    s = pd.Series([p["html"] for p in corpus["pages"]])
    out = extract_text_pandas(s)
    for i, p in enumerate(corpus["pages"]):
        assert out[i] == p["text"]


def test_extraction_adversarial_text():
    """Template + extraction must round-trip hostile bytes: tags,
    entities, weird whitespace."""
    cases = [
        "a < b & c > d.",
        "literal </article> attempt. <script>x</script>!",
        "  leading and trailing  ",
        "",
        "&amp; already-escaped? maybe. yes!",
        "multi\nline\ttext. with. many. dots. ",
    ]
    for text in cases:
        assert extract_text_py(page_html(text, "en", "t")) == text


def test_non_target_lang_pages_skipped(spark, pages_df):
    sents = extract.sentences(pages_df)
    langs = {r["lang"] for r in sents.select("lang").distinct().collect()}
    assert "zz" not in langs
    assert langs <= set(TARGET_LANGS)


def test_empty_pages_yield_no_sentences(spark, pages_df):
    empties = pages_df.filter(F.trim(F.col("text")) == "").select("url")
    sents = extract.sentences(pages_df)
    assert sents.join(empties, "url", "inner").count() == 0


def test_mention_detection_exact(spark):
    """Golden-shape fixture: exact mentions from a crafted sentence."""
    rows = [("u1", "en", 0, "the traveler met Mira Talvek near Dorvik and Acme Corp offices.")]
    df = spark.createDataFrame(rows, "url string, lang string, sent_idx int, sentence string")
    got = [
        (r["tok_idx"], r["surface"], r["alias_norm"], r["n_words"])
        for r in extract.mentions(df).orderBy("tok_idx").collect()
    ]
    assert got == [
        (0, "Mira Talvek", "mira talvek", 2),
        (1, "Dorvik", "dorvik", 1),
        (2, "Acme Corp", "acme corp", 2),
    ]


def test_malformed_bytes_do_not_kill_the_job(spark):
    """Web crawls contain malformed UTF-8; extraction must degrade per
    row (U+FFFD replacement -> no article match -> empty text), never
    fail the job (reference failOnError analog)."""
    from pyspark.sql import functions as F

    from cpg_spark.functions.text import extract_text_col

    df = spark.createDataFrame(
        [
            (b"\xff\xfe\x00garbage",),
            (b"<article><p>ok</p></article>",),
            (None,),
        ],
        "html binary",
    )
    rows = df.select(extract_text_col(F.col("html")).alias("t")).collect()
    texts = [r["t"] for r in rows]
    assert "ok" in texts
    assert all(t is None or "garbage" not in t or t == "" for t in texts)


# --- multi-frontend dispatch (Language registry + compilation-db config) ------

from cpg_spark.functions.text import (  # noqa: E402
    extract_text_md_col,
    extract_text_md_py,
)
from cpg_spark.operators.extract import extracted_text  # noqa: E402

MD_DOC = (
    "# Title here\n\n"
    "Some *emphasized* text with a [link label](http://x.test/a) and "
    "`code` marks.\n\n## Sub **bold** heading\nplain tail"
)


def test_markdown_frontend_twins_byte_identical(spark):
    """JVM markdown extraction must equal the python twin byte for byte
    (the per-frontend golden contract)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(MD_DOC.encode(),)], "raw binary")
    got = df.select(extract_text_md_col(F.col("raw")).alias("t")).collect()[0]["t"]
    exp = extract_text_md_py(MD_DOC.encode())
    assert got == exp
    assert "link label" in got and "http" not in got
    assert "#" not in got and "*" not in got and "`" not in got


def test_extracted_text_dispatches_per_row(spark):
    """Rows route to their format's frontend by the content_type config
    column; unknown types fall back to plain decode (skip, don't fail)."""
    from cpg_spark.synth import page_html

    html = page_html("hello <world> & co. more text.", "en", "t")
    rows = [
        ("u1", "en", html, "text/html"),
        ("u2", "en", MD_DOC.encode(), "text/markdown"),
        ("u3", "en", b"just plain bytes.", "application/octet-stream"),
    ]
    df = spark.createDataFrame(
        rows, "url string, lang string, html binary, content_type string"
    )
    got = {r["url"]: r["text"] for r in extracted_text(df).collect()}
    assert got["u1"] == "hello <world> & co. more text."
    assert got["u2"] == extract_text_md_py(MD_DOC.encode())
    assert got["u3"] == "just plain bytes."


def test_jsonld_triples_edge_cases(spark):
    """Structured-data frontend contract: malformed blocks skip
    (don't fail), nested values keep their raw JSON text, a block with
    neither @id nor name gets the deterministic url#idx blank-node id,
    non-ld script tags don't match, @id/@context emit no triple."""
    from cpg_spark.operators.extract import jsonld_triples

    html = (
        '<html><head>'
        '<script type="application/ld+json">'
        '{"@context":"https://schema.org","@id":"e:1","@type":"Person",'
        '"name":"Ada","address":{"city":"London"}}</script>'
        '<script type="application/ld+json">not json at all</script>'
        '<script type="application/ld+json">{"@type":"Thing","k":"v"}</script>'
        '<script type="text/javascript">{"@type":"Fake","x":"y"}</script>'
        "</head><body></body></html>"
    ).encode()
    pages = spark.createDataFrame([("u1", html)], "url string, html binary")
    rows = {
        (r["block_idx"], r["pred"]): (r["subj"], r["obj"])
        for r in jsonld_triples(pages).collect()
    }
    # block 0: @id subject; @id/@context dropped; nested raw JSON kept
    assert rows[(0, "@type")] == ("e:1", "Person")
    assert rows[(0, "name")] == ("e:1", "Ada")
    assert rows[(0, "address")] == ("e:1", '{"city":"London"}')
    assert (0, "@id") not in rows and (0, "@context") not in rows
    # block 1 malformed: ONE problem triple, never a silent drop
    assert rows[(1, "@error")] == ("u1#1", "not json at all")
    assert [p for bi, p in rows if bi == 1] == ["@error"]
    # block 2: no @id/name -> url#idx blank node
    assert rows[(2, "@type")] == ("u1#2", "Thing")
    assert rows[(2, "k")] == ("u1#2", "v")
    # the fake script type never matched
    assert not any(r[1] == "x" for r in rows)


def test_jsonld_graph_and_array_roots(spark):
    """@graph wrappers and top-level arrays — valid JSON-LD the flat
    parser used to drop silently — unwrap into per-member subjects with
    stable sub-block indices; @graph/@context stay structural; a scalar
    array element becomes a problem triple, not a crash or a drop."""
    from cpg_spark.operators.extract import jsonld_triples

    html = (
        '<html><head>'
        '<script type="application/ld+json">'
        '{"@context":"https://schema.org","@graph":['
        '{"@id":"e:a","@type":"Person","name":"Ada"},'
        '{"@type":"Place","name":"London"}]}</script>'
        '<script type="application/ld+json">'
        '[{"@type":"Book","name":"SICP"},"stray scalar",'
        '{"@type":"Thing"}]</script>'
        '<script type="application/ld+json">'
        '{"@graph":{"@type":"Event","name":"Expo"}}</script>'
        "</head><body></body></html>"
    ).encode()
    pages = spark.createDataFrame([("u1", html)], "url string, html binary")
    rows = {
        (r["block_idx"], r["sub_idx"], r["pred"]): (r["subj"], r["obj"])
        for r in jsonld_triples(pages).collect()
    }
    # block 0: @graph wrapper -> two members, @id then name-keyed
    assert rows[(0, 0, "@type")] == ("e:a", "Person")
    assert rows[(0, 1, "@type")] == ("London", "Place")
    assert not any(p in ("@graph", "@context") for _, _, p in rows)
    # block 1: top-level array; member 1 is a scalar -> problem triple;
    # member 2 has no @id/name -> dotted blank-node id
    assert rows[(1, 0, "name")] == ("SICP", "SICP")
    assert rows[(1, 1, "@error")] == ("u1#1", "stray scalar")
    assert rows[(1, 2, "@type")] == ("u1#1.2", "Thing")
    # block 2: scalar @graph counts as one member
    assert rows[(2, 0, "@type")] == ("Expo", "Event")
