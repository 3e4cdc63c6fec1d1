"""Dev smoke: run the KG pipeline in-memory on the synthetic corpus and
diff against the independent golden fixtures. Not part of pytest.

    python scripts/smoke_pipeline.py

Tests the checkout it sits in; exits 1 when any mismatch count is
nonzero."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from cpg_spark import synth
from cpg_spark.operators import canonicalize, extract, link, materialize
from cpg_spark.schema import ALIAS_DICT, PAGES
from cpg_spark.session import get_spark

spark = get_spark("smoke", master="local[4]")

corpus = synth.make_corpus(40)
pages = spark.createDataFrame(corpus["pages"], PAGES)
adict = spark.createDataFrame(corpus["alias_dict"], ALIAS_DICT)

# 1. byte-identical extraction
ext = extract.extracted_text(pages).withColumnRenamed("text", "etext")
diff = (
    ext.join(pages.select("url", "text"), "url")
    .filter(F.col("etext") != F.col("text"))
    .count()
)
print("extraction mismatches:", diff)
mismatches = diff

# 2. pipeline stages
sent = extract.sentences(pages)
ment = extract.mentions(sent)
links = link.link_mentions(ment, adict)
comps = canonicalize.canonical_map(adict)

# components vs expected
got_comps = {r["member_id"]: r["component_id"] for r in comps.collect()}
exp_comps = {r["member_id"]: r["component_id"] for r in corpus["expected_components"]}
comp_diff = sum(1 for k, v in exp_comps.items() if got_comps.get(k) != v)
print("component mismatches:", comp_diff, "of", len(exp_comps))
mismatches += comp_diff

clinks = materialize.canonical_links(links, comps)
triples = materialize.triples_from_links(clinks, comps)

got = {
    (r["subj"], r["pred"], r["obj"], r["url"], r["sent_idx"])
    for r in triples.distinct().collect()
}
exp = {
    (r["subj"], r["pred"], r["obj"], r["url"], r["sent_idx"])
    for r in corpus["golden_triples"]
}
print("got", len(got), "exp", len(exp))
fp = got - exp
fn = exp - got
print("false pos:", len(fp), "false neg:", len(fn))
for t in sorted(fp)[:10]:
    print("  FP", t)
for t in sorted(fn)[:10]:
    print("  FN", t)
mismatches += len(fp) + len(fn)
spark.stop()
sys.exit(1 if mismatches else 0)
