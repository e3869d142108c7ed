"""Scale-ladder probe: wall-time scaling slopes for the O(n^2)-risk keys.

The fixtures stop at sf0.1 (2 000 embeddings / 5 000 documents), which
cannot distinguish "the plan is linear" from "the plan is quadratic but
small". This tool generates synthetic rungs at 1x / ~3x / 10x the
sf0.1 row counts (10x == the ~sf1-equivalent the round-5 verdict asked
for: 20 000 x 64-d vectors, 60 000 documents), runs each probed key on
each rung, and reports the fitted log-log slope

    alpha = log(t_hi / t_lo) / log(n_hi / n_lo)

between consecutive rungs and across the whole ladder. A linear plan
shows alpha ~= 1 (plus a constant job floor that DEFLATES the slope at
small t); a quadratic plan shows alpha -> 2 as n grows. t is the
``key`` span of ``profile_sweep.profile_key`` (construction plus noop
execution), after one untimed run at the smallest rung. Results are
written as JSON to --out (default .tmp/scale_ladder.json).

Probed keys (the round-5 verdict's list):

  sim_search_topk, knn_classify_eval  - BLAS-prune candidate tiers
  dedup_minhash, dedup_components     - banded LSH + label propagation
  div_gmm                             - k=16 farthest-first rounds
  graph_scc                           - pointer doubling; probed via
      _scc_pointer_doubling directly because the REGISTERED key guards
      at the oracle's N <= 8192 unroll ceiling (an oracle artifact, not
      an engine limit)

Round-7 extension (the r6 verdict's item 3 — every self-joining or
stateful loop can harbor another stats-squaring surprise): the rungs
now also carry a synthetic lineitem (bounded-degree co-purchase
graph; part pool scales with the rung so degree is rung-invariant)
and a part table (ER blocking nouns scale with the rung so block
size is rung-invariant), enabling

  graph_lpa_communities, graph_kcore, graph_k_truss  - iterative
      label/peel loops over the co-purchase graph
  dedup_components_ngram, er_resolve_entities        - LSH/blocked
      candidate edges + min-label components
  stream_coreset_census, stream_coreset_shard_census - stateful
      applyInPandasWithState replay over embeddings
  bpe_train                                          - merge rounds

Run them with:
    python tools/scale_ladder.py --keys graph_lpa_communities,graph_kcore,graph_k_truss,dedup_components_ngram,er_resolve_entities,stream_coreset_census,stream_coreset_shard_census,bpe_train

Round-9 extension (the r8 verdict's item 6 — measure the
skew-resilience claim, don't argue it): the rungs now carry zipf(1.2)
join/group keys — lineitem.l_suppkey drawn zipf over a rung-scaled
supplier pool and a synthetic orders table with zipf o_custkey over a
rung-scaled customer pool. Zipf(1.2) normalizes to a rung-INVARIANT
hot-key fraction (~1/zeta(1.2) ~ 18% of ALL rows on key 0), so the
hottest key's row count grows 10x across the ladder — exactly the
single-task funnel the salted plans exist to break:

  join_skew_salted   - salt-8 scattered fact x replicated dim
  win_topk_salted    - two-phase (group, salt) -> group top-k

Synthetic data is generated with a fixed seed: embeddings are 10
Gaussian label clusters on 64-d (float32, like the fixture); documents
are 45-60-token texts over a 32-token vocabulary with a 5% exact-dup
tail so dedup keys have scale-invariant work density. The generator
keeps doc_ids dense 0..N-1 (graph_scc's contract).

Usage:
    python tools/scale_ladder.py [--rungs 1,3,10] [--keys k1,k2,...]
"""

from __future__ import annotations

import argparse
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from profile_sweep import Profiler

BASE_EMB = 2_000  # sf0.1 embeddings rows
BASE_DOC = 6_000  # ~sf0.1 documents rows (5 000), rounded for clean 10x
BASE_ORD = 10_000  # synthetic orders for the co-purchase graph rungs
BASE_PART = 2_000  # part pool; scales with the rung so degree stays bounded
BASE_NOUN = 30  # ER blocking nouns; scales with the rung so block size
#                 stays bounded (more entities -> more distinct nouns —
#                 the honest 100x shape; a FIXED noun vocab would make
#                 within-block pairs quadratic by construction)
BASE_EV = 10_000  # events rows (sf0.1 has 100k -> the 10x rung matches it)
BASE_SUPP = 100  # supplier pool; scales with the rung (zipf l_suppkey)
BASE_CUST = 1_000  # customer pool; scales with the rung (zipf o_custkey)
BASE_USER = 150  # user pool scales with the rung so per-user event
#                  density (and thus stream-join state + pair fan-out
#                  per user) is rung-invariant — linear is the honest
#                  expectation for the watermarked streaming keys
DIM = 64
VOCAB = (
    "batch part spark line column order small sort fast value scan slow "
    "hash group agg filter query big key window row table stream merge "
    "data join shuffle stage plan codegen broadcast skew"
).split()


def gen_rung(
    rung_dir: str, mult: int, seed: int = 20260815, vocab_size: int = 0
) -> None:
    """vocab_size=0 keeps the fixture-like 32-token vocabulary (dense
    shingle collisions — the fixture's own regime); vocab_size>0 draws
    from a zipf-ish synthetic vocabulary of that size (realistic
    corpus: sparse shingles, bounded LSH buckets)."""
    os.makedirs(rung_dir, exist_ok=True)
    rng = np.random.RandomState(seed + mult)
    if vocab_size:
        ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
        zipf_p = (1.0 / ranks) / (1.0 / ranks).sum()
        vocab_arr = np.array([f"w{i}" for i in range(vocab_size)])
    else:
        zipf_p, vocab_arr = None, np.array(VOCAB)

    n_emb = BASE_EMB * mult
    centers = rng.randn(10, DIM) * 2.0
    labels = rng.randint(0, 10, size=n_emb)
    emb = (centers[labels] + rng.randn(n_emb, DIM)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
                "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                "label": pa.array(labels.astype(np.int32)),
            }
        ),
        f"{rung_dir}/embeddings.parquet",
    )

    n_doc = BASE_DOC * mult
    lengths = rng.randint(45, 61, size=n_doc)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.rand() < 0.05:  # exact-dup tail, density-invariant
            texts.append(texts[rng.randint(0, i)])
        else:
            texts.append(
                " ".join(
                    rng.choice(vocab_arr, size=lengths[i], p=zipf_p).tolist()
                )
            )
    # --- co-purchase graph rung: minimal lineitem (graph_* keys read
    # only l_orderkey/l_partkey; the loader asserts the full declared
    # column set, so the rest ride as cheap constants) -----------------
    import datetime

    n_ord = BASE_ORD * mult
    pool = BASE_PART * mult  # degree stays ~constant across rungs
    per_ord = rng.randint(3, 6, size=n_ord)
    lo_ok = np.repeat(np.arange(n_ord, dtype=np.int64), per_ord)
    lo_pk = rng.randint(0, pool, size=len(lo_ok)).astype(np.int64)
    nli = len(lo_ok)
    # zipf(1.2) supplier key: hot-key FRACTION is rung-invariant
    # (~18% of rows on s_suppkey 0), so its absolute row count grows
    # with the rung -- the skew regime join_skew_salted must survive
    n_supp = BASE_SUPP * mult
    zr = np.arange(1, n_supp + 1, dtype=np.float64) ** -1.2
    lo_sk = rng.choice(n_supp, size=nli, p=zr / zr.sum()).astype(np.int64)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(lo_ok),
                "l_partkey": pa.array(lo_pk),
                "l_suppkey": pa.array(lo_sk),
                "l_linenumber": pa.array(np.ones(nli, dtype=np.int32)),
                "l_quantity": pa.array(np.ones(nli)),
                "l_extendedprice": pa.array(np.ones(nli)),
                "l_discount": pa.array(np.zeros(nli)),
                "l_tax": pa.array(np.zeros(nli)),
                "l_returnflag": pa.array(["N"] * nli),
                "l_linestatus": pa.array(["O"] * nli),
                "l_shipdate": pa.array(
                    [datetime.date(1995, 1, 1)] * nli, type=pa.date32()
                ),
            }
        ),
        f"{rung_dir}/lineitem.parquet",
    )

    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(
                    (np.arange(n_supp) % 25).astype(np.int32)
                ),
                "s_acctbal": pa.array(np.round(rng.rand(n_supp) * 9000, 2)),
            }
        ),
        f"{rung_dir}/supplier.parquet",
    )

    # --- zipf-customer orders: win_topk_salted's group key; same
    # rung-invariant hot-key fraction as l_suppkey above ---------------
    n_cust = BASE_CUST * mult
    zc = np.arange(1, n_cust + 1, dtype=np.float64) ** -1.2
    o_ck = rng.choice(n_cust, size=n_ord, p=zc / zc.sum()).astype(np.int64)
    o_dates = np.datetime64("1995-01-01", "us") + rng.randint(
        0, 2000, size=n_ord
    ).astype("timedelta64[D]").astype("timedelta64[us]")
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(o_ck),
                "o_orderstatus": pa.array(["O"] * n_ord),
                "o_totalprice": pa.array(
                    np.round(rng.rand(n_ord) * 500000, 2)
                ),
                "o_orderdate": pa.array(o_dates, type=pa.timestamp("us")),
                "o_orderpriority": pa.array(["1-URGENT"] * n_ord),
            }
        ),
        f"{rung_dir}/orders.parquet",
    )

    # --- ER rung: part names "c1 c2 c3 c4 noun"; noun vocab scales
    # with the rung so blocking keeps block size (and the JW pair
    # fan-out per block) constant — linear total work is the honest
    # expectation, a superlinear slope is a blocking bug -------------
    colors = np.array(
        [f"col{i}" for i in range(40)]
    )
    # alphabetic suffixes: the ER blocking key is regexp [a-z]+$ — a
    # digit-suffixed noun would extract an EMPTY block for every name
    # and collapse the corpus into one quadratic block (found the hard
    # way: the first r7 ladder run starved on a single 2M-pair block)
    def _alpha(i: int) -> str:
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(97 + r) + s
        return s

    nouns = np.array([f"noun{_alpha(i)}" for i in range(BASE_NOUN * mult)])
    p_names = [
        " ".join(rng.choice(colors, size=4).tolist())
        + " "
        + nouns[rng.randint(0, len(nouns))]
        for _ in range(pool)
    ]
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(pool, dtype=np.int64)),
                "p_name": pa.array(p_names),
                "p_brand": pa.array(["Brand#1"] * pool),
                "p_type": pa.array(["STANDARD"] * pool),
                "p_size": pa.array(np.ones(pool, dtype=np.int32)),
                "p_retailprice": pa.array(np.ones(pool)),
            }
        ),
        f"{rung_dir}/part.parquet",
    )

    # --- events rung: monotone-ts stream over a rung-scaled user pool
    # (round-8 ladder extension — watermarked streaming keys). ts is
    # written as TIMESTAMP(NANOS) like the real fixture so the loader's
    # nanosAsLong -> timestamp_ntz path is exercised verbatim. ~9 s
    # mean gap at 1x keeps the event-time span rung-invariant (the
    # watermark horizon covers the same wall-clock range per rung,
    # so streaming state per user is constant by construction).
    n_ev = BASE_EV * mult
    gaps_ms = np.cumsum(rng.randint(1, 18_000, size=n_ev)) // mult
    ev_ts = np.datetime64("2024-01-01T00:00:00", "ns") + gaps_ms.astype(
        "timedelta64[ms]"
    )
    ev_types = rng.choice(
        np.array(["view", "click", "signup", "purchase", "error"]),
        size=n_ev,
        p=[0.4, 0.3, 0.1, 0.1, 0.1],
    )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
                "ts": pa.array(ev_ts, type=pa.timestamp("ns")),
                "user_id": pa.array(
                    rng.randint(0, BASE_USER * mult, size=n_ev).astype(
                        np.int64
                    )
                ),
                "event_type": pa.array(ev_types),
                "value": pa.array(np.round(rng.rand(n_ev) * 200, 2)),
                "props": pa.array(
                    [f'{{"k": {int(k)}}}' for k in rng.randint(0, 100, n_ev)]
                ),
            }
        ),
        f"{rung_dir}/events.parquet",
    )

    langs = rng.choice(["en", "zh", "de", "fr"], size=n_doc)
    sources = np.array([f"src{i % 8}" for i in range(n_doc)])
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": pa.array(langs),
                "source": pa.array(sources),
                "n_chars": pa.array(
                    np.array([len(t) for t in texts], dtype=np.int64)
                ),
            }
        ),
        f"{rung_dir}/documents.parquet",
    )


def key_build(spark, key: str, rung_dir: str, n_doc: int):
    """The callable the profiler builds ``key`` with on one rung."""
    from diversity_maximization_spark import registry

    if key == "graph_scc":
        from diversity_maximization_spark.operators.graph import (
            _scc_pointer_doubling,
        )
        from diversity_maximization_spark.sources import load

        return lambda: _scc_pointer_doubling(
            load(spark, rung_dir, "documents"), n_doc
        )
    if key == "sim_search_lsh_probe":
        return lambda: _lsh_probe(spark, rung_dir)
    return lambda: registry.QUERIES[key](spark, rung_dir)


def _lsh_probe(spark, rung_dir: str):
    """The no-broadcast LSH tier, forced regardless of corpus size:
    the 100 TB scale path whose slope must stay ~linear."""
    from diversity_maximization_spark.functions import vector as V
    from diversity_maximization_spark.plans.distance_join import (
        lsh_candidate_pairs,
    )
    from diversity_maximization_spark.sources import load
    from pyspark.sql import functions as SF

    e = load(spark, rung_dir, "embeddings")
    cand = lsh_candidate_pairs(e, 64)
    a = e.select(
        SF.col("vec_id").alias("vec_a"), SF.col("embedding").alias("ea")
    )
    b = e.select(
        SF.col("vec_id").alias("vec_b"), SF.col("embedding").alias("eb")
    )
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("cs", V.cosine_sim("ea", "eb"))
        .filter(SF.col("cs") > 0.35)
    )


def ladder(prof: Profiler, key: str, rungs: list[int], ladder_dir: str) -> dict:
    """Profile ``key`` once per rung, after one untimed run at the
    smallest rung, and fit the slopes of the ``key`` span seconds."""
    times: dict[int, float] = {}
    for i, m in enumerate([rungs[0]] + rungs):
        build = key_build(prof.spark, key, f"{ladder_dir}/L{m}", BASE_DOC * m)
        rec = prof.profile(key, build)
        if "error" in rec:
            return {"error": rec["error"]}
        if i:  # the first run only warms the key
            times[m] = rec["total_s"]
            print(f"{key} @ {m}x: {times[m]:.2f}s", flush=True)

    def slope(a: int, b: int) -> float:
        if b <= a:
            return float("nan")
        return round(math.log(times[b] / times[a]) / math.log(b / a), 3)

    return {
        "times_sec": {f"{m}x": times[m] for m in rungs},
        "slope_overall": slope(rungs[0], rungs[-1]),
        "slope_segments": {
            f"{a}x->{b}x": slope(a, b) for a, b in zip(rungs, rungs[1:])
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rungs", default="1,3,10")
    ap.add_argument(
        "--keys",
        default=(
            "sim_search_topk,knn_classify_eval,dedup_minhash,"
            "dedup_components,div_gmm,graph_scc"
        ),
    )
    ap.add_argument("--out", default=".tmp/scale_ladder.json")
    ap.add_argument("--vocab-size", type=int, default=0)
    ap.add_argument("--ladder-dir", default=".tmp/ladder")
    args = ap.parse_args()
    rungs = [int(x) for x in args.rungs.split(",")]
    keys = args.keys.split(",")

    for m in rungs:
        rd = f"{args.ladder_dir}/L{m}"
        if not (
            os.path.exists(f"{rd}/part.parquet")
            and os.path.exists(f"{rd}/documents.parquet")
            and os.path.exists(f"{rd}/orders.parquet")
        ):
            print(f"generating rung {m}x ...", flush=True)
            gen_rung(rd, m, vocab_size=args.vocab_size)

    results: dict[str, dict] = {}
    prof = Profiler("dms-scale-ladder")
    try:
        for key in keys:
            results[key] = ladder(prof, key, rungs, args.ladder_dir)
            print(f"{key}: {json.dumps(results[key])}", flush=True)
    finally:
        prof.close()

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(
            {
                "base_rows": {"embeddings": BASE_EMB, "documents": BASE_DOC},
                "rungs": rungs,
                "results": results,
            },
            f,
            indent=1,
        )
    print(f"wrote {args.out}", flush=True)
    return 1 if any("error" in r for r in results.values()) else 0


if __name__ == "__main__":
    raise SystemExit(main())
