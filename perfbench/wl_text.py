"""text_curation: one generated corpus shard per pass, run through
the training-data funnel (``training_data_stats``: Gopher quality
flags, MinHash near-dup removal, contamination screen, BPE and
sequence packing, so one call drives the text, dedup and pipeline
operators).

The shard is built so that every count the funnel reports is known
in advance: planted exact duplicates (always dropped), planted
near-duplicates (two words swapped: dropped unless MinHash misses
the pair), short documents that fail the Gopher word-count rule, and
benchmark-contaminated documents that copy a held-out document.
Clean documents draw their content words from a vocabulary disjoint
from the held-out set's, and every 3-word shingle holds a content
word, so no clean document can share a shingle with the benchmark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Workload
from metrics import BATCH

N_DOCS = 400
SOURCES = ("web", "books", "news")
BENCH_MOD = 97                 # training_data_stats' held-out rule
# planted documents; every contaminated document copies a different
# held-out one (N_DOCS // BENCH_MOD of them), so no two are duplicates
N_EXACT, N_NEAR, N_CONTAM, N_SHORT = 10, 10, 4, 6
LINES, TRIPLES_PER_LINE = 3, 7  # 3 lines of 7 x (word word stopword)
SHARD_FILES = 4
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
MERGES = [("e", "r"), ("a", "n"), ("o", "n"), ("i", "n"), ("e", "n"),
          ("a", "r"), ("o", "r"), ("t", "h"), ("th", "e"), ("a", "l")]


def _vocab(rng, letters: str, n: int) -> list[str]:
    alphabet = np.array(list(letters))
    out: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(5, 8))
        out.add("".join(rng.choice(alphabet, k)))
    return sorted(out)


def _text(rng, vocab: list[str], lines: int = LINES) -> list[str]:
    """Words of one document: lines of (word word stopword) triples."""
    words = []
    for _ in range(lines * TRIPLES_PER_LINE):
        a, b = rng.integers(0, len(vocab), 2)
        words += [vocab[a], vocab[b], STOPWORDS[rng.integers(0, 8)]]
    return words


def _join(words: list[str]) -> str:
    per = 3 * TRIPLES_PER_LINE
    return "\n".join(" ".join(words[i:i + per])
                     for i in range(0, len(words), per))


class TextCuration(Workload):
    name = "text_curation"
    calls = [("plans.datapipe.training_data_stats", BATCH)]

    def prepare(self, run) -> None:
        rng = np.random.default_rng([run.seed, 3])
        # disjoint letter sets make the two vocabularies disjoint
        self.clean = _vocab(rng, "abcdefghijklm", 3000)
        self.held_out = _vocab(rng, "nopqrstuvwxyz", 1000)

    def stage(self, run, i: int) -> dict:
        rng = np.random.default_rng([run.seed, 3, i])
        ids = np.arange(1, N_DOCS + 1)
        bench = ids[ids % BENCH_MOD == 0]
        corpus = ids[ids % BENCH_MOD != 0]
        source = {int(d): SOURCES[rng.integers(0, len(SOURCES))]
                  for d in ids}
        words = {int(d): _text(rng, self.clean) for d in ids}
        for d in bench:
            words[int(d)] = _text(rng, self.held_out)
        # the planted documents take the highest corpus ids, so the
        # min-id representative of each duplicate pair is the original
        n_planted = N_EXACT + N_NEAR + N_CONTAM + N_SHORT
        planted = corpus[-n_planted:]
        originals = rng.choice(corpus[:-n_planted], N_EXACT + N_NEAR,
                               replace=False)
        kind = {}
        pos = 0
        for n, k in ((N_EXACT, "exact"), (N_NEAR, "near"),
                     (N_CONTAM, "contam"), (N_SHORT, "short")):
            for d in planted[pos:pos + n]:
                kind[int(d)] = k
            pos += n
        for j, d in enumerate(planted[:N_EXACT + N_NEAR]):
            d, o = int(d), int(originals[j])
            w = list(words[o])
            if kind[d] == "near":
                for p in rng.choice(len(w) // 3, 2, replace=False):
                    w[3 * p] = self.clean[rng.integers(0, len(self.clean))]
            words[d], source[d] = w, source[o]
        for j, d in enumerate(planted[N_EXACT + N_NEAR:][:N_CONTAM]):
            words[int(d)] = list(words[int(bench[j % len(bench)])])
        for d in planted[-N_SHORT:]:
            words[int(d)] = _text(rng, self.clean, lines=1)
        shard = run.path(f"pass{i}", "docs")
        os.makedirs(shard, exist_ok=True)
        for n, part in enumerate(np.array_split(ids, SHARD_FILES)):
            pq.write_table(pa.table({
                "doc_id": pa.array(part, pa.int64()),
                "source": [source[int(d)] for d in part],
                "text": [_join(words[int(d)]) for d in part],
            }), os.path.join(shard, f"part{n}.parquet"))
        per_source = {}
        for d in corpus:
            d = int(d)
            c = per_source.setdefault(source[d], {
                "n": 0, "exact": 0, "near": 0, "contam": 0, "short": 0})
            c["n"] += 1
            if d in kind:
                c[kind[d]] += 1
        return {"shard": shard, "per_source": per_source}

    def run_pass(self, run, i: int, inp: dict) -> None:
        from lofar_bf_pulsar_scripts_spark.plans.datapipe import (
            training_data_stats)

        spark = run.spark
        want = inp["per_source"]

        def dup_bounds(c: dict, dropped: int) -> str | None:
            if not c["exact"] <= dropped <= c["exact"] + c["near"]:
                return (f"dropped {dropped}, planted {c['exact']} exact + "
                        f"{c['near']} near duplicates")
            return None

        def funnel_check(rows):
            if {r["source"] for r in rows} != set(want):
                return "training_data_stats sources differ"
            for r in rows:
                c = want[r["source"]]
                if r["n_input"] != c["n"]:
                    return f"{r['source']}: n_input {r['n_input']} != {c['n']}"
                if r["n_fail_quality"] != c["short"]:
                    return f"{r['source']}: n_fail_quality differs"
                if r["n_contaminated"] != c["contam"]:
                    return (f"{r['source']}: n_contaminated "
                            f"{r['n_contaminated']} != {c['contam']}")
                bad = dup_bounds(c, r["n_dup_dropped"])
                if bad:
                    return f"{r['source']}: {bad}"
            return None

        def do_funnel():
            return training_data_stats(spark.read.parquet(inp["shard"]),
                                       MERGES, bench_mod=BENCH_MOD)

        run.op("plans.datapipe.training_data_stats", do_funnel,
               lambda df: df.collect(), funnel_check)
