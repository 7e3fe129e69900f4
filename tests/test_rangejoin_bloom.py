"""range_join and bloom filter: property tests against brute-force
references, plus lexical_stats vs a pure-Python computation."""

import hashlib
import math
import random

from pyspark.sql import functions as F

from document_parser_private_spark.operators.bloom import (
    bloom_build,
    bloom_prune,
)
from document_parser_private_spark.operators.rangejoin import range_join
from document_parser_private_spark.operators.textstats import lexical_stats


# ---------------------------------------------------------------- range join

def _mk_range_inputs(spark, seed=7, n_pts=400, n_iv=60):
    rng = random.Random(seed)
    pts = [(rng.randrange(5), i, float(rng.randrange(100)),
            rng.randrange(0, 100_000)) for i in range(n_pts)]
    ivs = []
    for j in range(n_iv):
        s = rng.randrange(0, 100_000)
        ivs.append((rng.randrange(5), j, s, s + rng.randrange(1, 3000)))
    p = spark.createDataFrame(
        pts, "user_id int, event_id int, value double, ts_s long")
    i = spark.createDataFrame(
        ivs, "user_id int, incident_id int, start_s long, end_s long")
    return pts, ivs, p, i


def test_range_join_matches_bruteforce(spark):
    pts, ivs, p, i = _mk_range_inputs(spark)
    got = sorted(
        (r.event_id, r.incident_id)
        for r in range_join(p, i, on=["user_id"], point_col="ts_s",
                            start_col="start_s", end_col="end_s",
                            bucket_width=900).collect()
    )
    want = sorted(
        (pe, ij)
        for (up, pe, _, ts) in pts
        for (ui, ij, s, e) in ivs
        if up == ui and s <= ts < e
    )
    assert got == want and len(want) > 0


def test_range_join_boundaries(spark):
    # start inclusive, end exclusive, exactly at bucket boundaries
    p = spark.createDataFrame(
        [(1, 0, 900), (1, 1, 1799), (1, 2, 1800), (1, 3, 899)],
        "user_id int, event_id int, ts_s long")
    i = spark.createDataFrame(
        [(1, 10, 900, 1800)], "user_id int, incident_id int, "
        "start_s long, end_s long")
    got = sorted(r.event_id for r in range_join(
        p, i, on=["user_id"], point_col="ts_s", start_col="start_s",
        end_col="end_s", bucket_width=900).collect())
    assert got == [0, 1]


def test_range_join_max_buckets_caps_flood(spark):
    # a degenerate giant interval is truncated to max_buckets granules
    p = spark.createDataFrame(
        [(1, 0, 100), (1, 1, 900 * 3 + 10), (1, 2, 900 * 50)],
        "user_id int, event_id int, ts_s long")
    i = spark.createDataFrame(
        [(1, 10, 0, 900 * 1000)],
        "user_id int, incident_id int, start_s long, end_s long")
    got = sorted(r.event_id for r in range_join(
        p, i, on=["user_id"], point_col="ts_s", start_col="start_s",
        end_col="end_s", bucket_width=900, max_buckets=4).collect())
    assert got == [0, 1]  # event 2 lives past the cap horizon


# ------------------------------------------------------------------- bloom

def _pos(key, i, m):
    h = hashlib.md5(f"{key}#{i}".encode()).hexdigest()
    return int(h[:8], 16) % m


def test_bloom_no_false_negatives_and_exact_positions(spark):
    m, k = 512, 3
    keys = spark.createDataFrame([(x,) for x in range(0, 200, 2)],
                                 "key long")
    probe = spark.createDataFrame([(x,) for x in range(200)] + [(None,)],
                                  "key long")
    bloom = bloom_build(keys, "key", m_bits=m, k=k)
    # position table matches the pure-python md5 contract exactly
    got_pos = sorted(r.pos for r in bloom.collect())
    want_pos = sorted({_pos(x, i, m) for x in range(0, 200, 2)
                       for i in range(k)})
    assert got_pos == want_pos

    out = {r.key: r.bloom_pass
           for r in bloom_prune(probe, "key", bloom, m_bits=m, k=k).collect()}
    members = set(range(0, 200, 2))
    # a null key fails the filter
    assert out.pop(None) == 0
    # no false negatives
    assert all(out[x] == 1 for x in members)
    # false positives are exactly the python-reference predictions
    want_fp = {x for x in range(200) if x not in members
               and all(_pos(x, i, m) in set(want_pos) for i in range(k))}
    got_fp = {x for x, p in out.items() if p == 1 and x not in members}
    assert got_fp == want_fp


def test_bloom_prune_plan_has_no_probe_shuffle(spark):
    # the filter is folded into a plan-time bitmap literal: the pruned
    # plan must contain ZERO exchanges and ZERO joins — one codegen
    # projection over the probe scan, nothing else
    pos = sorted({_pos(x, i, 256) for x in range(50) for i in range(3)})
    bloom = spark.createDataFrame([(p,) for p in pos], "pos int")
    probe = spark.range(1000).withColumnRenamed("id", "key")
    plan = bloom_prune(probe, "key", bloom, m_bits=256, k=3) \
        ._jdf.queryExecution().executedPlan().toString()
    import re
    assert not re.search(r"Exchange", plan), plan
    assert "Join" not in plan, plan


# ------------------------------------------------------------ lexical stats

def test_lexical_stats_matches_python(spark):
    rng = random.Random(3)
    vocab = ["alpha", "beta", "gamma", "delta", "x1", "the", "of"]
    rows = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(0, 60))))
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in lexical_stats(docs).collect()}
    for row in docs.select("doc_id", "text").collect():
        toks = row.text.split()
        counts = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        n = len(toks)
        assert got[row.doc_id].n_tokens == n
        assert got[row.doc_id].n_types == len(counts)
        if n:
            ent = (math.log(n) - sum(c * math.log(c)
                                     for c in counts.values()) / n) \
                / 0.6931471805599453
            assert abs(got[row.doc_id].entropy - round(ent, 6)) < 1e-9
            assert got[row.doc_id].ttr == round(len(counts) / n, 6)


def test_lexical_stats_zero_token_doc(spark):
    d = spark.createDataFrame([(1, "a b a"), (2, "   ")],
                              "doc_id long, text string")
    out = {r.doc_id: r for r in lexical_stats(d).collect()}
    assert out[2].n_tokens == 0 and out[2].entropy is None
    assert out[1].n_tokens == 3 and out[1].n_types == 2


def test_range_join_fractional_end_integer_width(spark):
    # ADVICE r5: fractional end values with an integer bucket_width used
    # to drop the bucket containing [end-1, end) — a point at 10.2 in
    # [3.0, 10.5) must match with W=5 even though floor((10.5-1)/5)=1
    p = spark.createDataFrame([(1, 1, 10.2)], "k int, pid int, t double")
    iv = spark.createDataFrame([(1, 9, 3.0, 10.5)],
                               "k int, iid int, s double, e double")
    got = range_join(p, iv, on=["k"], point_col="t", start_col="s",
                     end_col="e", bucket_width=5).collect()
    assert [(r.pid, r.iid) for r in got] == [(1, 9)]
    # half-open boundary unchanged: point exactly at end never matches
    p2 = spark.createDataFrame([(1, 2, 10.5)], "k int, pid int, t double")
    assert range_join(p2, iv, on=["k"], point_col="t", start_col="s",
                      end_col="e", bucket_width=5).count() == 0


def test_range_join_on_truncate_error(spark):
    p = spark.createDataFrame([(1, 1, 50)], "k int, pid int, t long")
    giant = spark.createDataFrame([(1, 9, 0, 10_000_000)],
                                  "k int, iid int, s long, e long")
    ok = spark.createDataFrame([(1, 8, 0, 900)],
                               "k int, iid int, s long, e long")
    # allow (default): silently capped, job completes
    range_join(p, giant, on=["k"], point_col="t", start_col="s",
               end_col="e", bucket_width=900).count()
    # error: the giant interval fails the job loudly
    import pytest as _pt
    with _pt.raises(Exception, match="wider than max_buckets"):
        range_join(p, giant, on=["k"], point_col="t", start_col="s",
                   end_col="e", bucket_width=900,
                   on_truncate="error").count()
    # error mode with in-bounds intervals is a no-op
    assert range_join(p, ok, on=["k"], point_col="t", start_col="s",
                      end_col="e", bucket_width=900,
                      on_truncate="error").count() == 1
