"""Seeded input generators. The engine receives only the tables made here.

- Transcripts come from the engine's own deterministic generator
  (``tsdat_spark.synth.generate_transcripts``), seeded from the command
  line. It injects the hot keys (mega-conversations), ~1/37 out-of-order
  turns and ~1/97 duplicated turns.
- The corpus is a seeded stand-in for the test data's ``documents`` table
  (same columns, same word-salad style over a small vocabulary), grown
  K-fold by suffixing every token of copy k with ``~k`` and fresh doc ids
  (the key-remapping approach of ``scripts/gen_scaled_sf.py``), plus a
  seeded share of exact and near-duplicate documents.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_S = 86400
EPOCH = 1704067200  # 2024-01-01T00:00:00Z

# ------------------------------------------------------------ transcripts
# backfill: ~23k turns over ~2 days; 1% of conversations are mega (hot keys)
BACKFILL = dict(n_convs=600, base_turns=30, n_mega=6, mega_turns=800,
                conv_spacing_s=240, turn_gap_s=20)
# refresh: base history of 3 days (2024-01-01..03), then small appended batches
REFRESH_BASE = dict(n_convs=300, base_turns=16, n_mega=3, mega_turns=300,
                    conv_spacing_s=864, turn_gap_s=20)
REFRESH_BATCH = dict(n_convs=40, base_turns=20, n_mega=0, mega_turns=1,
                     conv_spacing_s=30, turn_gap_s=20)
REFRESH_LATE_EVERY = 4  # every 4th batch carries late turns for a rolled day


def transcript_spec(seed: int, partitions: int, **shape):
    from tsdat_spark.synth import SynthSpec

    return SynthSpec(seed=seed, partitions=partitions, **shape)


@dataclass(frozen=True)
class Batch:
    seed: int
    start_epoch: int
    late: bool


def refresh_batch(seed: int, i: int) -> Batch:
    """Batch ``i`` of the refresh loop. On-time batches land on 2024-01-04,
    after the history's last turn; every ``REFRESH_LATE_EVERY``-th batch
    lands on 2024-01-02 or 2024-01-03 instead, days the base rollup has
    already written."""
    rng = np.random.default_rng([seed, i])
    late = i % REFRESH_LATE_EVERY == REFRESH_LATE_EVERY - 1
    if late:
        start = EPOCH + int(rng.integers(1, 3)) * DAY_S + int(rng.integers(0, 20 * 3600))
    else:
        start = EPOCH + 3 * DAY_S + 7200 + i * 900
    return Batch(int(rng.integers(1, 2**31 - 1)), start, late)


def batch_spec(b: Batch):
    from tsdat_spark.synth import SynthSpec

    return SynthSpec(seed=b.seed, partitions=1, start_epoch=b.start_epoch, **REFRESH_BATCH)


# ----------------------------------------------------------------- corpus
VOCAB = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query key window row table stream merge data "
         "big join vector customer a the of and").split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.42, 0.15, 0.14, 0.15, 0.14)
CORPUS_BASE_DOCS = 600
CORPUS_SOURCES = 40
CORPUS_K = 2
EXACT_DUP_SHARE = 0.03
NEAR_DUP_SHARE = 0.03
NEAR_DUP_EDIT_SHARE = 0.05


def corpus_table(seed: int, base_docs: int = CORPUS_BASE_DOCS, k: int = CORPUS_K) -> pa.Table:
    """documents(doc_id bigint, text, lang, source, n_chars bigint)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 91, size=base_docs)
    base = [vocab[rng.integers(0, len(vocab), size=n)] for n in lengths]
    langs = rng.choice(len(LANGS), size=base_docs, p=LANG_P)

    ids, texts, lang, source = [], [], [], []
    for copy in range(k):
        sfx = f"~{copy}" if copy else ""
        for j, words in enumerate(base):
            ids.append(copy * 1_000_000_000 + j)
            texts.append(" ".join(w + sfx for w in words))
            lang.append(LANGS[langs[j]])
            source.append(f"src{j % CORPUS_SOURCES}")

    n = len(ids)
    n_exact = int(round(n * EXACT_DUP_SHARE))
    n_near = int(round(n * NEAR_DUP_SHARE))
    picks = rng.integers(0, n, size=n_exact + n_near)
    for m, src in enumerate(picks):
        words = texts[src].split(" ")
        if m >= n_exact:
            n_edit = max(1, int(len(words) * NEAR_DUP_EDIT_SHARE))
            for pos in rng.integers(0, len(words), size=n_edit):
                words[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        ids.append(2_000_000_000 + m)
        texts.append(" ".join(words))
        lang.append(lang[src])
        source.append(source[src])

    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_corpus(seed: int, sf_dir: str) -> int:
    os.makedirs(sf_dir, exist_ok=True)
    t = corpus_table(seed)
    pq.write_table(t, os.path.join(sf_dir, "documents.parquet"))
    return t.num_rows


# ----------------------------------------------------------------- digest
def table_digest(table: pa.Table) -> str:
    """Order-insensitive digest of a table's rows (sha256 over the sorted
    per-row reprs), for generator determinism checks."""
    cols = sorted(table.column_names)
    rows = sorted(zip(*(table.column(c).to_pylist() for c in cols)), key=repr)
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def parquet_digest(path: str) -> str:
    import pyarrow.dataset as ds

    return table_digest(ds.dataset(path, format="parquet").to_table())
