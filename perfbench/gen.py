"""Seeded inputs of the workloads.

Every generator takes the benchmark's ``--seed`` and nothing else that
varies, so one seed always yields identical inputs.  The program under
test only ever sees what these functions produce.

* :func:`write_fixture` — the batch fixture, written by the repository's
  own ``scripts/gen_fixture.py`` (fixed seed, fixture schemas of
  ``FIXTURES.md``); only the query order depends on ``--seed``.
* :func:`query_orders` — the seeded permutations of the batch queries.
* :class:`CurationFeed` — micro-batches of ``(doc_id, text)`` for the
  curation gate, with injected duplicates and eval-set leaks, the
  verdict each document must receive, text corrections (merges) and
  erasures (deletes) for the accepted corpus, and the benchmark's own
  model of that corpus.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def table_digest(t: pa.Table) -> str:
    """Content hash of an Arrow table (schema + values, not file bytes)."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()[:16]


def write_fixture(sf: float, outdir: str) -> None:
    """Write the registry tables at scale ``sf`` with
    ``scripts/gen_fixture.gen`` (seed 42), its progress lines silenced."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    try:
        import gen_fixture
    finally:
        sys.path.pop(0)
    with contextlib.redirect_stdout(io.StringIO()):
        gen_fixture.gen(sf, outdir)


def fixture_info(outdir: str) -> dict:
    """Rows, bytes and content digest of each fixture table."""
    info = {}
    for f in sorted(os.listdir(outdir)):
        if f.endswith(".parquet"):
            path = os.path.join(outdir, f)
            tab = pq.read_table(path)
            info[f[: -len(".parquet")]] = {
                "rows": tab.num_rows, "bytes": os.path.getsize(path),
                "digest": table_digest(tab),
            }
    return info


def query_orders(seed: int, names):
    """Endless seeded permutations of ``names``, one per batch pass."""
    rng = np.random.default_rng([seed, 4])
    while True:
        yield [str(q) for q in rng.permutation(list(names))]


# -- curation gate feed -----------------------------------------------------

ACCEPTED = "accepted"
DUP_INDEX = "rejected_neardup_index"
DUP_BATCH = "rejected_neardup_batch"
LEAKED = "quarantined_contaminated"


class CurationFeed:
    """Micro-batches for the curation gate, with known verdicts.

    Text is drawn from a 5000-word vocabulary, so two independent
    documents share no word 8-gram and no MinHash band in practice.
    Each batch injects, at seeded positions:

    * copies of documents accepted in the previous batch (the standing
      near-dup index must reject them),
    * copies of earlier documents of the same batch (keep-first by
      doc_id must reject the later copy),
    * documents carrying a 10-word span of an eval document (the
      decontamination probe must quarantine them).

    Duplicates are exact copies, so their expected verdict is certain
    rather than a MinHash probability.  Only clean documents are ever
    copied.
    """

    VOCAB_SIZE = 5000

    def __init__(self, seed: int, batch_docs: int = 200, n_eval: int = 30,
                 dups_index: int = 4, dups_batch: int = 4, leaks: int = 4):
        self.rng = np.random.default_rng([seed, 2])
        self.batch_docs = batch_docs
        self.mix = (dups_index, dups_batch, leaks)
        self.eval_texts = [self._text(40, 60) for _ in range(n_eval)]
        self.epoch = 0
        self._prev_clean: list[str] = []
        # the accepted corpus as the gate's docs table must hold it:
        # doc_id -> (epoch, text), with merges and erasures applied
        self.corpus: dict[int, tuple[int, str]] = {}

    def _text(self, lo: int, hi: int) -> str:
        n = int(self.rng.integers(lo, hi + 1))
        return " ".join(f"v{w}" for w in self.rng.integers(0, self.VOCAB_SIZE, n))

    def eval_table(self) -> pa.Table:
        return pa.table({
            "doc_id": pa.array(np.arange(len(self.eval_texts)) + 10**9, pa.int64()),
            "text": self.eval_texts,
        })

    def next_batch(self) -> tuple[pa.Table, dict[int, str]]:
        """The next epoch's ``(doc_id, text)`` table and each doc's
        expected verdict."""
        n = self.batch_docs
        first = self.epoch * n + 1
        ids = list(range(first, first + n))
        texts = [self._text(30, 60) for _ in range(n)]
        want = dict.fromkeys(ids, ACCEPTED)
        n_idx, n_bat, n_leak = self.mix
        if not self._prev_clean:
            n_idx = 0
        # slots: the first half of the batch stays clean (copy sources),
        # injected docs land in the second half so a within-batch copy
        # always has a higher doc_id than its original
        slots = self.rng.permutation(np.arange(n // 2, n))[: n_idx + n_bat + n_leak]
        srcs = self.rng.permutation(n // 2)[:n_bat]
        prev = self.rng.permutation(len(self._prev_clean))[:n_idx]
        for j, s in enumerate(slots):
            s = int(s)
            if j < n_idx:
                texts[s] = self._prev_clean[int(prev[j])]
                want[ids[s]] = DUP_INDEX
            elif j < n_idx + n_bat:
                texts[s] = texts[int(srcs[j - n_idx])]
                want[ids[s]] = DUP_BATCH
            else:
                ev = self.eval_texts[int(self.rng.integers(len(self.eval_texts)))].split()
                at = int(self.rng.integers(0, len(ev) - 10))
                body = texts[s].split()
                cut = int(self.rng.integers(0, len(body)))
                texts[s] = " ".join(body[:cut] + ev[at:at + 10] + body[cut:])
                want[ids[s]] = LEAKED
        copied = {int(s) for s in srcs}
        self._prev_clean = [
            texts[i] for i in range(n // 2) if i not in copied
        ]
        for d, t in zip(ids, texts):
            if want[d] == ACCEPTED:
                self.corpus[d] = (self.epoch, t)
        self.epoch += 1
        tab = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts})
        return tab, want

    def _pick(self, n_epochs: int, per_epoch: int) -> list[int]:
        """``per_epoch`` seeded accepted docs from each of ``n_epochs``
        seeded past epochs."""
        epochs = self.rng.choice(self.epoch, min(n_epochs, self.epoch), replace=False)
        out = []
        for e in sorted(int(x) for x in epochs):
            ids = sorted(d for d, (de, _) in self.corpus.items() if de == e)
            out += [ids[int(i)] for i in self.rng.choice(
                len(ids), min(per_epoch, len(ids)), replace=False)]
        return sorted(out)

    def corrections(self, n_epochs: int = 2, per_epoch: int = 10) -> pa.Table:
        """Rewritten texts for accepted docs of two past epochs, as
        ``(doc_id, text, epoch)`` rows to merge into the docs table."""
        ids = self._pick(n_epochs, per_epoch)
        for d in ids:
            self.corpus[d] = (self.corpus[d][0], self._text(30, 60))
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": [self.corpus[d][1] for d in ids],
            "epoch": pa.array([self.corpus[d][0] for d in ids], pa.int32()),
        })

    def erasures(self, n_epochs: int = 2, per_epoch: int = 5) -> tuple[set[str], list[int]]:
        """``(epochs, doc_ids)`` to erase from the docs table."""
        ids = self._pick(n_epochs, per_epoch)
        epochs = {str(self.corpus[d][0]) for d in ids}
        for d in ids:
            del self.corpus[d]
        return epochs, ids

    def point_doc(self) -> int:
        ids = sorted(self.corpus)
        return ids[int(self.rng.integers(len(ids)))]

    def totals(self) -> tuple[int, int, int]:
        """``(docs, sum of doc_id, sum of text length)`` of the corpus."""
        return (len(self.corpus), sum(self.corpus),
                sum(len(t) for _, t in self.corpus.values()))
