"""Seeded generator of the `documents` table that the query_catalog
workload reads.

The table has the shape of the 0.001-scale testdata (TESTDATA.md): 500
documents with ids 0..499, `source` = src<id % 20>, texts of 10 to 99
words drawn uniformly from a 30-word vocabulary, five languages, and a
few near-duplicate groups whose members repeat one base text followed
by one to three "dup" tokens.  The seed chooses the words, the order of
the text lengths, the languages and the duplicate groups; the row count,
id range, multiset of lengths before the duplicate groups are written,
and the group sizes are fixed, so every seed
does a comparable amount of work.
"""
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DOCS = 500
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
LANGS = [("en", 0.39), ("fr", 0.16), ("es", 0.16), ("zh", 0.15), ("de", 0.14)]
DUP_GROUPS = 10


def generate(out_dir, seed):
    """Write ``documents.parquet`` under ``out_dir``; return its path."""
    rng = random.Random(seed)
    # every seed has the same lengths, shuffled: the near-duplicate pair
    # count grows quickly with the number of long texts
    lengths = [10 + 90 * i // DOCS for i in range(DOCS)]
    rng.shuffle(lengths)
    texts = [" ".join(rng.choice(VOCAB) for _ in range(n)) for n in lengths]
    members = rng.sample(range(DOCS), DUP_GROUPS * 4)
    for g in range(DUP_GROUPS):
        group = members[4 * g:4 * g + 2 + g % 3]
        base = texts[group[0]]
        for j, doc in enumerate(group[1:], start=1):
            texts[doc] = base + " dup" * j
    langs = rng.choices([l for l, _ in LANGS], [w for _, w in LANGS], k=DOCS)
    table = pa.table({
        "doc_id": pa.array(range(DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    return path
