"""Seeded input generators for the benchmark.

Everything the engine reads is written here, from the seed alone: the
same seed gives byte-identical parquet files. Two input families:

* corpus (``llm_corpus_cold`` and the traced layer sweep): a
  ``documents`` + ``embeddings`` pair shaped like the sf0.1 testbed
  tables (30-word vocabulary drawn uniformly plus a rare ``dup``
  marker, 10-69 words per document, 41 % ``en`` and ~15 % each of
  zh/es/fr/de, source ``src<doc_id % 20>``, 5 % near duplicates made
  by appending `` dup`` to an earlier document, 0.16 % exact copies;
  64-float unit vectors over 10 labels with a weak per-label
  direction) plus planted near-duplicate vector clusters.
* snapshot batches (``snapshot_ingest``): lineitem-shaped rows keyed
  by ``(l_orderkey, l_linenumber)`` in 8 partitions ``p = l_orderkey %
  8``, one append batch file per round and one upsert file per round
  (updates of committed keys and new keys, in two partitions).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
DIM = 64
LABELS = 10

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
SNAP_SCHEMA = pa.schema([("l_orderkey", pa.int64()), ("l_linenumber", pa.int32()),
                         ("p", pa.int32()), ("l_quantity", pa.float64()),
                         ("l_extendedprice", pa.float64()),
                         ("l_discount", pa.float64()), ("l_returnflag", pa.string()),
                         ("l_shipdate", pa.timestamp("us"))])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def corpus(rng, out_dir, n_docs, n_vecs):
    """One documents + embeddings pair under ``out_dir``."""
    texts = []
    for i in range(n_docs):
        u = rng.random()
        if i > 20 and u < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and u < 0.0516:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 70)))
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = rng.choice(len(LANGS), n_docs, p=LANG_P)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in langs], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=DOC_SCHEMA)
    _write(docs, f"{out_dir}/documents.parquet")

    centers = rng.standard_normal((LABELS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, LABELS, n_vecs)
    vecs = rng.standard_normal((n_vecs, DIM)) + 0.6 * centers[labels]
    # planted clusters: ~4 % of vectors are small perturbations of an
    # earlier vector (cosine > 0.9), so threshold and dedup keys find
    # pairs beyond the isotropic background
    for i in range(8, n_vecs):
        if rng.random() < 0.04:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.2 * rng.standard_normal(DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }, schema=EMB_SCHEMA)
    _write(emb, f"{out_dir}/embeddings.parquet")


FLAGS = ("A", "N", "R")
DAY_US = 86_400_000_000
EPOCH_1992_US = 694_224_000_000_000


def _lines(rng, orderkeys):
    """Lineitem-shaped rows: 1-7 lines per order."""
    n_lines = rng.integers(1, 8, len(orderkeys))
    ok = np.repeat(orderkeys, n_lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int32)
    n = len(ok)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "p": pa.array((ok % 8).astype(np.int32), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array([FLAGS[k] for k in rng.integers(0, 3, n)], pa.string()),
        "l_shipdate": pa.array(EPOCH_1992_US + rng.integers(0, 2500, n) * DAY_US,
                               pa.timestamp("us")),
    }, schema=SNAP_SCHEMA)


def snapshot_batches(rng, out_dir, n_batches, orders_per_batch):
    """Append batch ``b<id>`` covers orders [id*opb, (id+1)*opb). Upsert
    ``u<r>`` (merged in round r, after batches 0..r+1 are committed)
    touches two partitions, ``r % 8`` and ``(r + 3) % 8``: it rewrites
    lines of committed orders there (same key and partition, new
    values) and adds lines of fresh orders beyond every batch's range,
    so the other partitions keep their appended entries until the next
    compaction."""
    opb = orders_per_batch
    for b in range(n_batches):
        _write(_lines(rng, np.arange(b * opb, (b + 1) * opb)), f"{out_dir}/batches/b{b:04d}.parquet")
    fresh = n_batches * opb
    for r in range(n_batches):
        parts = np.array([r % 8, (r + 3) % 8])
        committed = np.arange((r + 2) * opb)
        old = rng.choice(committed[np.isin(committed % 8, parts)], opb // 8, replace=False)
        new = np.arange(fresh + r * opb, fresh + (r + 1) * opb)
        new = new[np.isin(new % 8, parts)][: opb // 8]
        upd = _lines(rng, np.sort(old))
        _write(pa.concat_tables([upd, _lines(rng, new)]), f"{out_dir}/upserts/u{r:04d}.parquet")
