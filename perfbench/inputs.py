"""Seeded benchmark inputs: the transcript corpus, its ``documents`` view
and the query and write streams.

The corpus is the package's own FIXTURES.md §1 generator. Generation is
the benchmark's cost, not the program's, so the parquet files are cached
per (seed, size) under the benchmark's work directory and their creation
is kept out of ``setup_s``. The program only ever sees the parquet files.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from dataclasses import dataclass

import numpy as np

from pyf_aggregator_spark.fixtures.transcripts import ZIPF_S, generate_transcripts
from pyf_aggregator_spark.functions.tokenize import tokenize_py

N_SOURCES = 50  # documents.source = src{conv mod 50}


@dataclass
class Inputs:
    seed: int
    transcripts: str  # parquet path
    sf_dir: str  # holds documents.parquet, the facade's table
    documents: str  # parquet path
    vocab: list[str]  # corpus terms of the w##### family, in Zipf rank order
    text_bytes: int
    n_postings: int

    def rng(self, stream: str) -> np.random.Generator:
        """Independent seeded stream per consumer, so adding draws to one
        stream never shifts another."""
        return np.random.default_rng([self.seed, sum(map(ord, stream))])

    def _zipf_p(self) -> np.ndarray:
        p = np.arange(1, len(self.vocab) + 1, dtype=np.float64) ** -ZIPF_S
        return p / p.sum()

    def zipf_terms(self, rng: np.random.Generator, n: int) -> list[str]:
        """``n`` Zipf-distributed corpus terms, drawn independently (the
        text of written documents)."""
        idx = rng.choice(len(self.vocab), n, p=self._zipf_p())
        return [self.vocab[i] for i in idx]

    def query_terms(self, rng: np.random.Generator, sizes: list[int]) -> list[list[str]]:
        """Terms of ``len(sizes)`` queries, ``sizes[i]`` distinct terms in
        query ``i``. Query cost follows how common a term is, so the
        terms are stratified: their Zipf quantiles take one slice each of
        ``[0, 1)``, in seeded order, and the seed only picks the point in
        each slice. Every seed then queries the same mix of hot and rare
        terms. Terms are distinct within a query because the facade's
        typo path scores a corrected token once more when it repeats
        another query token, where the SQL oracle counts it once."""
        n = sum(sizes)
        u = (rng.permutation(n) + rng.random(n)) / n
        cdf = np.cumsum(self._zipf_p())
        ranks = np.minimum(np.searchsorted(cdf, u, side="right"), len(self.vocab) - 1)
        out, i = [], 0
        for k in sizes:
            picked: list[int] = []
            for r in ranks[i:i + k]:
                while r in picked:
                    r = (r + 1) % len(self.vocab)
                picked.append(int(r))
            out.append([self.vocab[r] for r in picked])
            i += k
        return out


def _write(out: str, seed: int, n_turns: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = generate_transcripts(n_turns, seed)
    # Spark reads microsecond timestamps only
    pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(out, "transcripts.parquet"))
    # generate_transcripts emits rows in (conv_id, turn_idx) order, so the
    # row number is the dense doc id assign_doc_ids gives the same rows
    conv = pdf["conv_id"].str.slice(5).astype(np.int64)
    docs = {
        "doc_id": np.arange(len(pdf), dtype=np.int64),
        "text": pdf["text"],
        "lang": pdf["role"],
        "source": "src" + (conv % N_SOURCES).astype(str),
        "n_chars": pdf["text"].str.len().astype(np.int64),
    }
    os.makedirs(os.path.join(out, "sf"))
    pq.write_table(pa.table(docs), os.path.join(out, "sf", "documents.parquet"))
    df = Counter(t for text in pdf["text"] for t in set(tokenize_py(text)))
    vocab = sorted(t for t in df if len(t) == 6 and t[0] == "w" and t[1:].isdigit())
    meta = {
        "vocab": vocab,
        "text_bytes": int(pdf["text"].str.len().sum()),
        "n_postings": sum(df.values()),  # Σ df: one posting per (term, doc)
    }
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


def load_inputs(cache_dir: str, seed: int, n_turns: int) -> Inputs:
    """Generate once per (seed, size); later runs reuse the parquet."""
    out = os.path.join(cache_dir, f"seed{seed}_turns{n_turns}")
    if not os.path.exists(os.path.join(out, "meta.json")):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _write(tmp, seed, n_turns)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    return Inputs(
        seed=seed,
        transcripts=os.path.join(out, "transcripts.parquet"),
        sf_dir=os.path.join(out, "sf"),
        documents=os.path.join(out, "sf", "documents.parquet"),
        vocab=meta["vocab"],
        text_bytes=meta["text_bytes"],
        n_postings=meta["n_postings"],
    )
