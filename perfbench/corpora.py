"""Benchmark inputs: documents from ``corpus.make_doc``, written as parquet
in a workload's file layout, and cached under a key that names everything
the files depend on.

The key holds the workload, doc range, seed, giant count, file count,
sort order and a hash of ``corpus.py`` and of this file, so a cached
corpus is never reused after the generator or the layout changes.

Giant docs are drawn apart from the others so that every seed gets the
same number of them, each of nearly the same size: ``make_doc`` picks
giants at random, with 100-1000 extra lines each, and at a few hundred
docs that alone would move a corpus's total work by a tenth from seed
to seed.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
from dataclasses import asdict, dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from document_parser_private_spark import corpus as C

SPAN_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
]))
DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("spans", SPAN_TYPE), ("byte_size", pa.int64()),
    ("doc_type", pa.string()), ("part", pa.int32()),
])


GIANT_FIRST = 10**8          # doc index where giant candidates start
GIANT_SPANS = (520, 580)     # span count of an accepted giant
CHUNK = 256                  # doc indices per task of the generating pool
ROUND = 8                    # chunks of giant candidates tried at a time


@dataclass(frozen=True)
class Layout:
    """``n`` docs of ``seed`` in ``files`` files: docs ``first ..`` with no
    giant tail, and ``giants`` of them replaced by giant docs."""
    workload: str
    first: int
    n: int
    seed: int
    giants: int
    files: int
    sort_by_size: bool = False

    def docs(self) -> list[C.Doc]:
        """The docs, made on one process per CPU; the same for every
        number of processes."""
        procs = len(os.sched_getaffinity(0))
        # fork: the pool runs make_doc only, and needs no fresh interpreter
        with multiprocessing.get_context("fork").Pool(procs) as pool:
            stop = self.first + self.n - self.giants
            chunks = [(a, min(a + CHUNK, stop), self.seed)
                      for a in range(self.first, stop, CHUNK)]
            plain = [d for chunk in pool.map(_plain_docs, chunks) for d in chunk]
            giants = giant_docs(self.seed, self.giants, pool)
            pool.close()
            pool.join()
        return plain + giants


def spread_tail(docs: list, k: int) -> list:
    """``docs`` with its last ``k`` spread evenly among the others, in
    order: each k-th slice of the rest ends with one of them."""
    if not k:
        return list(docs)
    n = len(docs) - k
    out = []
    for i in range(k):
        out += docs[i * n // k:(i + 1) * n // k]
        out.append(docs[n + i])
    return out


def _plain_docs(chunk: tuple[int, int, int]) -> list[C.Doc]:
    first, stop, seed = chunk
    return [C.make_doc(i, seed=seed, skew_frac=0.0) for i in range(first, stop)]


def _giant_candidates(chunk: tuple[int, int]) -> list[C.Doc]:
    first, seed = chunk
    docs = (C.make_doc(i, seed=seed, skew_frac=1.0) for i in range(first, first + CHUNK))
    return [d for d in docs if GIANT_SPANS[0] <= len(d.spans) <= GIANT_SPANS[1]]


def giant_docs(seed: int, count: int, pool=None) -> list[C.Doc]:
    """The first ``count`` docs from index ``GIANT_FIRST`` on that
    ``make_doc`` makes giant (every resume is, at skew 1) with a span
    count inside ``GIANT_SPANS``. Candidates are tried ``CHUNK`` at a
    time, a round of ``ROUND`` chunks on ``pool`` if given, in index
    order."""
    mapper = pool.map if pool is not None else lambda f, xs: list(map(f, xs))
    out: list[C.Doc] = []
    first = GIANT_FIRST
    while len(out) < count:
        chunks = [(first + k * CHUNK, seed) for k in range(ROUND)]
        first += ROUND * CHUNK
        for docs in mapper(_giant_candidates, chunks):
            out.extend(docs)
    return out[:count]


def _source_hash() -> str:
    h = hashlib.sha256()
    for path in (C.__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def cache_key(layout: Layout) -> str:
    """Directory name of ``layout``'s cached files."""
    body = json.dumps({**asdict(layout), "source": _source_hash()},
                      sort_keys=True)
    return f"{layout.workload}-{hashlib.sha256(body.encode()).hexdigest()[:16]}"


def write_docs(path: str, docs: list[C.Doc], files: int,
               sort_by_size: bool = False) -> list[str]:
    """Write ``docs`` as ``files`` parquet files of near-equal doc counts
    under directory ``path``; returns the file paths in order.

    With ``sort_by_size`` the docs are ordered by ``byte_size`` (ties by
    doc id) before they are cut into files, so the largest docs sit
    together at the end, as a batch of giant PDFs would.
    """
    if sort_by_size:
        docs = sorted(docs, key=lambda d: (d.byte_size, d.doc_id))
    os.makedirs(path)
    per = -(-len(docs) // files)
    out = []
    for k in range(files):
        chunk = docs[k * per:(k + 1) * per]
        if not chunk:
            break
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(C.docs_to_rows(chunk), DOCS_SCHEMA),
                       f, compression="zstd")
        out.append(f)
    return out


def materialize(cache_dir: str, layout: Layout) -> str:
    """Path of ``layout``'s files under ``cache_dir``, writing them first
    if they are not cached. The write goes to a temporary directory that
    is renamed into place, so a killed run leaves no partial corpus."""
    final = os.path.join(cache_dir, cache_key(layout))
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    # unsorted, each file gets its share of the giants, so no one task
    # holds them all
    docs = layout.docs() if layout.sort_by_size else spread_tail(layout.docs(), layout.giants)
    write_docs(tmp, docs, layout.files, layout.sort_by_size)
    os.rename(tmp, final)
    return final
