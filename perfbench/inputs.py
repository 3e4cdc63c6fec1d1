"""Seeded input generation for the benchmark workloads.

The program under test only ever sees the files written here: page
parquet for ``kg_batch`` and the ingest probe, a documents table for
``curation``, and the small customer / nation / documents tables the
ops probe reads. Every table is a pure function of the seed,
written with pyarrow so generation needs no Spark session.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# The vocabulary and language mix of the registry's documents table
# (5,000 rows of 10-100 words over 31 words, 41 % "en"). "dup" is left
# out: the registry uses it only inside its own planted duplicates.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
# A redrawn base document shares less than this shingle Jaccard with
# every earlier one; the curation pipeline merges at 0.8 and above.
BASE_JACCARD_MAX = 0.5
COPY_SHARE = 0.1  # injected exact copies, as a share of the base docs
EDIT_SHARE = 0.1  # injected one-word edits, as a share of the base docs

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
ALIAS_SCHEMA = pa.schema(
    [
        ("alias", pa.string()),
        ("entity_id", pa.string()),
        ("entity_name", pa.string()),
        ("entity_type", pa.string()),
        ("prior", pa.float64()),
    ]
)
CUSTOMER_SCHEMA = pa.schema(
    [
        ("c_custkey", pa.int64()),
        ("c_name", pa.string()),
        ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ]
)
NATION_SCHEMA = pa.schema(
    [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def write_table(rows: list[dict], schema: pa.Schema, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def write_parts(rows: list[dict], schema: pa.Schema, out_dir: str, n_files: int) -> None:
    """Rows as ``n_files`` parquet files of consecutive rows, so the
    scan has more than one split (or the stream more than one batch)."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(rows) // n_files)
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
        write_table(chunk, schema, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def shingles(text: str, n: int = 3) -> set[str]:
    """Token n-gram shingles joined by one space, as the curation
    pipeline's dedup forms them. Splitting on whitespace equals its
    ``[a-z0-9]+`` tokenizer on these documents, which hold only
    lowercase VOCAB words."""
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def make_documents(n_docs: int, seed: int) -> list[dict]:
    """Registry-shaped documents, 10-100 words from VOCAB, pairwise
    distinct: a draw whose shingle Jaccard with an earlier document
    reaches BASE_JACCARD_MAX is redrawn, so no two of them are
    duplicates under the pipeline's threshold."""
    rng = random.Random(seed)
    docs: list[dict] = []
    index: dict[str, list[int]] = {}  # shingle -> ids of docs holding it
    sets: list[set[str]] = []
    while len(docs) < n_docs:
        text = " ".join(rng.choices(VOCAB, k=rng.randint(10, 100)))
        sh = shingles(text)
        near = {i for s in sh for i in index.get(s, ())}
        if any(jaccard(sh, sets[i]) >= BASE_JACCARD_MAX for i in near):
            continue
        i = len(docs)
        for s in sh:
            index.setdefault(s, []).append(i)
        sets.append(sh)
        docs.append(
            {
                "doc_id": i,
                "text": text,
                "lang": rng.choice(DOC_LANGS),
                "source": f"src{i % 20}",
                "n_chars": len(text),
            }
        )
    return docs


def make_curation_docs(
    n_base: int, seed: int
) -> tuple[list[dict], dict[int, int], dict[int, int]]:
    """Pairwise-distinct base documents plus injected exact copies and
    one-word edits of randomly chosen base docs. Injected rows get ids
    above every base id, so the min-id survivor of a duplicate group is
    never an injected row. Returns (docs, {copy id: source id},
    {edit id: source id})."""
    rng = random.Random(seed ^ 0x5EED)
    docs = make_documents(n_base, seed)
    next_id = n_base
    copies: dict[int, int] = {}
    edits: dict[int, int] = {}
    for _ in range(int(n_base * COPY_SHARE)):
        src = rng.choice(docs[:n_base])
        docs.append({**src, "doc_id": next_id})
        copies[next_id] = src["doc_id"]
        next_id += 1
    for _ in range(int(n_base * EDIT_SHARE)):
        src = rng.choice(docs[:n_base])
        words = src["text"].split()
        words[rng.randrange(len(words))] = rng.choice(VOCAB)
        text = " ".join(words)
        docs.append({**src, "doc_id": next_id, "text": text, "n_chars": len(text)})
        edits[next_id] = src["doc_id"]
        next_id += 1
    return docs, copies, edits


def write_ops_tables(out_dir: str, n_customers: int, n_docs: int, seed: int) -> None:
    """The tables the ``ops.*`` queries read, in the registry's column
    layout: ``customer`` (keys 0..n-1), ``nation`` (25 rows) and
    ``documents``."""
    rng = random.Random(seed ^ 0x0C05)
    customers = [
        {
            "c_custkey": k,
            "c_name": f"Customer#{k:09d}",
            "c_nationkey": rng.randrange(25),
            "c_acctbal": round(rng.uniform(-999.99, 9999.99), 2),
            "c_mktsegment": rng.choice(SEGMENTS),
        }
        for k in range(n_customers)
    ]
    nations = [{"n_nationkey": k, "n_name": f"NATION_{k}", "n_regionkey": k % 5} for k in range(25)]
    write_table(customers, CUSTOMER_SCHEMA, os.path.join(out_dir, "customer.parquet"))
    write_table(nations, NATION_SCHEMA, os.path.join(out_dir, "nation.parquet"))
    docs = make_documents(n_docs, seed ^ 0xD0C5)
    write_table(docs, DOCS_SCHEMA, os.path.join(out_dir, "documents.parquet"))
