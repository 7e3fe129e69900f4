"""Unit + parity tests for operators/trainprep.py: repetition signals,
decontamination, and token-window chunking. Each operator is checked
against a naive pure-Python reference over handcrafted edge cases and
the shared synthetic corpus."""

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from document_parser_private_spark.operators.trainprep import (
    chunk_documents,
    decontaminate,
    repetition_stats,
)

_TOK = re.compile(r"[^\x09-\x0d\x20]+")


def _py_repetition(text):
    lines = [ln for ln in text.split("\n") if ln]
    n_lines = len(lines)
    counts = Counter(lines)
    n_distinct = len(counts)
    chars_all = sum(len(ln) for ln in lines)
    chars_distinct = sum(len(ln) for ln in counts)
    toks = _TOK.findall(text)
    grams = Counter(
        f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1))
    if grams:
        top = min(grams.items(), key=lambda kv: (-kv[1], kv[0]))
        top_gram, top_cnt = top
        n_bigrams = sum(grams.values())
    else:
        top_gram, top_cnt, n_bigrams = "", 0, 0
    return {
        "n_lines": n_lines,
        "dup_line_frac": round((n_lines - n_distinct) / max(n_lines, 1), 6),
        "dup_line_char_frac": round(
            (chars_all - chars_distinct) / max(chars_all, 1), 6),
        "top_bigram": top_gram,
        "top_bigram_frac": round(top_cnt / max(n_bigrams, 1), 6),
    }


def _py_chunks(text, chunk, overlap):
    toks = _TOK.findall(text)
    step = chunk - overlap
    out = []
    if not toks:
        return out
    n = len(toks)
    kmax = 0 if n <= chunk else -((-(n - chunk)) // step)
    for i in range(kmax + 1):
        ct = toks[i * step:i * step + chunk]
        if ct:
            out.append((i, len(ct), " ".join(ct)))
    return out


REP_DOCS = [
    (1, "a b\na b\nc d"),          # dup line + dominant bigram
    (2, ""),                        # empty doc -> all zeros
    (3, "hello"),                   # single token -> no bigrams
    (4, "x y\nz w"),                # all-tie bigrams -> lexicographic min
    (5, "\n\nonly\n\n"),            # empty lines excluded
    (6, "a z a\x01 b"),            # tie broken on the joined string
]


def test_repetition_stats_handcrafted(spark):
    df = spark.createDataFrame(REP_DOCS, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in repetition_stats(df).collect()}
    for did, text in REP_DOCS:
        exp = _py_repetition(text)
        for k, v in exp.items():
            assert got[did][k] == v, (did, k, got[did][k], v)
    assert got[1]["dup_line_frac"] == round(1 / 3, 6)
    assert got[1]["top_bigram"] == "a b"
    assert got[1]["top_bigram_frac"] == 0.4
    assert got[4]["top_bigram"] == "x y"
    assert got[5]["n_lines"] == 1
    assert got[6]["top_bigram"] == "a\x01 b"


def _rand_docs(n, seed=11):
    """Seeded multi-line docs with injected line/bigram repetition."""
    import random
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for did in range(n):
        lines = []
        for _ in range(rng.randrange(0, 8)):
            lines.append(" ".join(rng.choices(vocab, k=rng.randrange(0, 9))))
        if lines and rng.random() < 0.6:           # force duplicate lines
            lines.append(rng.choice(lines))
        docs.append((did, "\n".join(lines)))
    return docs


def test_repetition_stats_random_parity(spark):
    rows = _rand_docs(40)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in repetition_stats(df).collect()}
    assert set(got) == {d for d, _ in rows}
    for did, text in rows:
        exp = _py_repetition(text)
        for k, v in exp.items():
            assert got[did][k] == v, (did, k, got[did][k], v)


def test_decontaminate(spark):
    docs = spark.createDataFrame(
        [(1, "t1 t2 t3 t4 t5 t6 t7 t8 trailing words here"),
         (2, "totally different content with no shared grams at all ok"),
         (3, "short doc"),
         (4, "x t1 t2 t3 t4 t5 t6 t7 t8 y")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [("prefix t1 t2 t3 t4 t5 t6 t7 t8 suffix",)], "text string")
    got = {r["doc_id"]: r.asDict()
           for r in decontaminate(docs, bench, n=8).collect()}
    assert got[1]["contaminated"] and got[1]["n_hits"] == 1
    assert not got[2]["contaminated"] and got[2]["n_hits"] == 0
    assert not got[3]["contaminated"]          # < n tokens: no grams
    assert got[4]["contaminated"] and got[4]["n_hits"] == 1
    assert set(got) == {1, 2, 3, 4}            # every doc gets a verdict


@pytest.mark.parametrize("n_toks,chunk,overlap", [
    (0, 4, 1), (1, 4, 1), (3, 4, 1), (4, 4, 1), (5, 4, 1),
    (7, 4, 0), (8, 4, 0), (10, 4, 1), (100, 16, 4),
])
def test_chunk_documents_shapes(spark, n_toks, chunk, overlap):
    text = " ".join(f"w{i}" for i in range(n_toks))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = [(r["chunk_idx"], r["n_tokens"], r["chunk_text"])
           for r in chunk_documents(df, chunk, overlap)
           .orderBy("chunk_idx").collect()]
    assert got == _py_chunks(text, chunk, overlap)
    # coverage: every token appears in some chunk, in order
    toks = text.split()
    seen = []
    step = chunk - overlap
    for idx, _, ctext in got:
        ctoks = ctext.split()
        assert ctoks == toks[idx * step:idx * step + chunk]
        seen.extend(ctoks[overlap if idx else 0:])
    assert seen == toks


def test_chunk_documents_random_parity(spark):
    rows = _rand_docs(25, seed=23)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in chunk_documents(df, 8, 2).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["n_tokens"], r["chunk_text"]))
    for did, text in rows:
        exp = _py_chunks(text, 8, 2)
        assert sorted(got.get(did, [])) == sorted(exp), did


def _py_pack(chunks, budget):
    """chunks: list of (idx, n) in idx order -> [(idx, seq, pos)]"""
    out, seq, used, pos = [], 0, 0, 0
    for idx, n in sorted(chunks):
        if used > 0 and used + n > budget:
            seq, used, pos = seq + 1, n, 0
        else:
            pos = 0 if used == 0 else pos + 1
            used += n
        out.append((idx, seq, pos))
    return out


def test_pack_sequences_matches_python(spark):
    from document_parser_private_spark.operators.trainprep import (
        pack_sequences,
    )
    docs = {
        1: [(0, 60), (1, 60), (2, 60), (3, 30)],   # 60+60 | 60+30
        2: [(0, 200)],                              # oversized alone
        3: [(0, 64), (1, 64), (2, 200), (3, 10)],   # oversize mid-doc
        4: [(0, 128)],                              # exactly budget
        5: [(0, 100), (1, 28), (2, 1)],             # exact fill + roll
    }
    rows = [(d, i, n) for d, ch in docs.items() for i, n in ch]
    df = spark.createDataFrame(
        rows, "doc_id long, chunk_idx long, n_tokens long")
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["seq_id"], r["seq_pos"])
        for r in pack_sequences(df, budget_tokens=128).collect()
    }
    expect = {
        (d, idx): (seq, pos)
        for d, ch in docs.items()
        for idx, seq, pos in _py_pack(ch, 128)
    }
    assert got == expect


# ------------------------------------------------------------ cluster_split

def test_cluster_split_is_cluster_atomic_and_portable(spark):
    import hashlib
    from document_parser_private_spark.operators.curation import (
        SAMPLE_BUCKETS,
    )
    from document_parser_private_spark.operators.trainprep import (
        cluster_split,
    )
    # 200 docs in 60 clusters of mixed sizes
    rows, cid = [], 0
    i = 0
    while i < 200:
        size = (cid % 5) + 1
        for j in range(size):
            if i + j < 200:
                rows.append((i + j, cid))
        i += size
        cid += 1
    df = spark.createDataFrame(rows, "doc_id long, cluster_id long")
    out = cluster_split(df, val_frac=0.25).collect()
    assert len(out) == len(rows)
    # cluster atomicity: one side per cluster
    sides = {}
    for r in out:
        sides.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in sides.values())
    # portable hash contract (mirrors the DuckDB twin bit for bit)
    cut = int(0.25 * SAMPLE_BUCKETS)
    for c, s in sides.items():
        b = int(hashlib.md5(str(c).encode()).hexdigest()[:8], 16) \
            % SAMPLE_BUCKETS
        assert s == {"val" if b < cut else "train"}, c
    # both sides non-empty at this frac/corpus
    assert {r["split"] for r in out} == {"train", "val"}


def _py_substring_dedup(docs, n=10):
    """Naive reference: hash every n-token window, flag windows whose
    exact window text occurs >= 2x corpus-wide, merge overlapping
    flagged windows into regions per doc."""
    wins = {}   # doc_id -> [(pos, key)]
    occ = Counter()
    for doc_id, text in docs:
        toks = _TOK.findall(text)
        ws = [(i, " ".join(toks[i:i + n]))
              for i in range(max(len(toks) - n + 1, 0))]
        wins[doc_id] = (len(toks), ws)
        for _, k in ws:
            occ[k] += 1
    out = {}
    for doc_id, (ntok, ws) in wins.items():
        dup = sorted(p for p, k in ws if occ[k] >= 2)
        regions = []
        for p in dup:
            if regions and p - regions[-1][1] <= n:
                regions[-1][1] = p
            else:
                regions.append([p, p])
        dup_tokens = sum(e - s + n for s, e in regions)
        out[doc_id] = {
            "n_tokens": ntok,
            "n_windows": max(ntok - n + 1, 0),
            "n_dup_windows": len(dup),
            "n_dup_regions": len(regions),
            "dup_tokens": dup_tokens,
            "dup_token_frac": round(dup_tokens / max(ntok, 1), 6),
        }
    return out


def test_duplicated_substrings_handcrafted(spark):
    from document_parser_private_spark.operators.trainprep import (
        duplicated_substrings,
    )
    boiler = "terms of service apply to all visitors of this site"
    docs = [
        # shares the 10-token boilerplate with doc b inside unique text
        ("a", "alpha beta gamma " + boiler + " delta epsilon zeta"),
        ("b", "one two three four five " + boiler),
        # within-doc repeat: same 10-token run twice in one doc
        ("c", " ".join(["w%d" % (i % 10) for i in range(30)])),
        # too short for any window
        ("d", "tiny doc"),
        # exactly 10 tokens, unique -> 1 window, 0 dups
        ("e", " ".join("u%d" % i for i in range(10))),
    ]
    exp = _py_substring_dedup(docs, n=10)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict()
           for r in duplicated_substrings(df, n=10).collect()}
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == {"doc_id": k, **exp[k]}, k
    # sanity on intent: the boilerplate quote is caught, short doc is 0
    assert got["a"]["n_dup_regions"] == 1
    assert got["a"]["dup_tokens"] == 10
    assert got["d"]["n_windows"] == 0
    assert got["e"]["n_dup_windows"] == 0


def test_duplicated_substrings_random_parity(spark):
    import random

    from document_parser_private_spark.operators.trainprep import (
        duplicated_substrings,
    )
    rng = random.Random(13)
    vocab = ["tok%d" % i for i in range(12)]  # tiny vocab -> collisions
    docs = [
        ("doc%03d" % i,
         " ".join(rng.choice(vocab)
                  for _ in range(rng.randrange(0, 40))))
        for i in range(60)
    ]
    exp = _py_substring_dedup(docs, n=5)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict()
           for r in duplicated_substrings(df, n=5).collect()}
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == {"doc_id": k, **exp[k]}, k
