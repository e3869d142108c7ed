"""The three benchmark workloads.

Each workload has the same closed-loop shape: ``prepare`` builds the
seeded inputs and reference answers outside Spark, ``references``
adds answers that need the loaded registry (both are harness prep,
not set-up), and ``run_pass`` runs one pass of back-to-back
operations. A pass returns one ``(latency_s, check)`` pair per
operation; ``check()`` returns the list of problems with that
operation's output and is called after the pass, outside its timing.

In a traced pass the workload opens a span around every call it makes
into a layer; ``layer_wrappers`` additionally wraps the public
functions that the called API reaches (``api.mr_coreset``,
``api.collect_coreset``, ``kernel.farthest_first``, ...) with spans
for the duration of the pass. Engine source is never modified.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import os
import pickle
import time

import numpy as np

import gen

K = 16  # selection size of both coreset workloads


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def layer_wrappers(tracer, targets):
    """Temporarily replace ``module.attr`` for each (module, attr,
    span name) with a wrapper that runs the original inside a span."""
    saved = []
    for mod, attr, name in targets:
        orig = getattr(mod, attr)

        def wrapped(*a, _orig=orig, _name=name, **kw):
            with tracer.span(_name) as s:
                out = _orig(*a, **kw)
                s.attrs["_out"] = out  # read by probes and layer metrics
                return out

        saved.append((mod, attr, orig))
        setattr(mod, attr, functools.wraps(orig)(wrapped))
    try:
        yield
    finally:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)


def quality(X: np.ndarray, ids, ref: dict) -> dict:
    obj = gen.objectives(X[np.asarray(ids, dtype=np.int64)])
    return {
        "edge_ratio": obj["edge"] / ref["edge"],
        "clique_ratio": obj["clique"] / ref["clique"],
        "selected": obj["k"],
    }


class Workload:
    """Shared inputs and the hooks a workload may leave empty."""

    stream_rows: int | None = None  # rows the traced pass must stream, if any
    warmup_passes = 1  # passes in set-up, before the timed body

    def prepare_mixture(self, work: str, draw: int) -> None:
        self.dir = gen.write_mixture(work, draw, self.n)
        self.X = gen.read_points(self.dir)
        self.ref = gen.gmm_reference(self.X, K)
        self.input_rows = self.n
        self.quality: dict = {}

    def references(self) -> None:
        pass

    def layer_targets(self):
        return []

    def probes(self, spark, tracer) -> None:
        pass


class CoresetBatch(Workload):
    """EP1: api.gmm_coreset (partition -> per-partition farthest-first
    -> compose -> sequential finish) plus evaluation, one call per op."""

    P, KPRIME, M = 16, 64, 1
    # The pass after the cold one still runs about 10% slow (Python
    # workers and the JVM are still warming), which made it the maximum
    # of the timed passes and query_tail_s unsteady.
    warmup_passes = 2

    def __init__(self, n: int) -> None:
        self.n = n

    def prepare(self, work: str, seed: int) -> None:
        self.prepare_mixture(work, seed)

    def run_pass(self, spark, tracer):
        from diversity_maximization_spark import api
        from diversity_maximization_spark.sources import load

        t0 = time.perf_counter()
        with tracer.span("sources.load"):
            emb = load(spark, self.dir, "embeddings")
        with tracer.span("api.gmm_coreset"):
            rows = api.gmm_coreset(
                emb, k=K, p=self.P, kprime=self.KPRIME, m=self.M
            ).collect()
        ids = [r["vec_id"] for r in rows]
        with tracer.span("kernel.eval"):
            self.quality = quality(self.X, ids, self.ref)
        return [(time.perf_counter() - t0, lambda: self.check(ids))]

    def check(self, ids) -> list[str]:
        if len(ids) != K or len(set(ids)) != K:
            return [f"expected {K} distinct ids, got {ids}"]
        if not all(0 <= i < self.n for i in ids):
            return ["selected id outside the input"]
        return []

    def layer_targets(self):
        from diversity_maximization_spark import api
        from diversity_maximization_spark.diversity import kernel

        return [
            (api, "mr_coreset", "coreset.mr_coreset"),
            (api, "collect_coreset", "coreset.collect"),
            (kernel, "farthest_first", "kernel.finish"),
        ]

    def probes(self, spark, tracer) -> None:
        """Extra executions that split the traced pass: the input scan
        and the coreset plan without transfer (noop sink)."""
        from diversity_maximization_spark.sources import load

        with tracer.span("probe.sources.scan"):
            noop_write(load(spark, self.dir, "embeddings"))
        mr = tracer.find("coreset.mr_coreset")[-1]
        with tracer.span("probe.coreset.noop"):
            noop_write(mr.attrs["_out"])


def stream_targets():
    from diversity_maximization_spark.streaming import coreset as sc

    return [
        (sc, "streaming_coreset_sharded", "stream.coreset_sharded"),
        (sc, "streaming_coreset_sharded_snapshots", "stream.snapshots"),
        (sc, "embedding_replay", "stream.replay"),
    ]


class StreamCoreset(Workload):
    """EP2 used incrementally: streaming.coreset.streaming_coreset_sharded
    over the mixture written as embeddings.parquet, one call per op."""

    SHARDS, SLICES = 4, 8
    # One fixed mixture draw for every seed: the streaming summary keeps
    # 5 to 11 of its 16 centers depending on the draw (clique_ratio
    # 0.08-0.46 over draws 1-10 at n=2e4), so a seeded draw would make
    # the quality ratios too unsteady to bound.
    DRAW = 0

    def __init__(self, n: int) -> None:
        self.n = self.stream_rows = n

    def prepare(self, work: str, seed: int) -> None:
        self.prepare_mixture(work, self.DRAW)

    def run_pass(self, spark, tracer):
        from diversity_maximization_spark.streaming import coreset as sc

        t0 = time.perf_counter()
        with tracer.span("api.streaming_coreset"):
            rows = sc.streaming_coreset_sharded(
                spark, self.dir, self.SHARDS, self.SLICES
            ).collect()
        ids = [r["vec_id"] for r in rows]
        with tracer.span("kernel.eval"):
            self.quality = quality(self.X, ids, self.ref)
        return [(time.perf_counter() - t0, lambda: self.check(rows))]

    def check(self, rows) -> list[str]:
        from diversity_maximization_spark.streaming.coreset import KPRIME

        problems = []
        ids = [r["vec_id"] for r in rows]
        weight = sum(r["weight"] for r in rows)
        if weight != self.n:
            problems.append(f"composed weights sum to {weight}, expected {self.n}")
        if not 1 <= len(ids) <= KPRIME or len(set(ids)) != len(ids):
            problems.append(f"expected 1..{KPRIME} distinct centers, got {ids}")
        return problems

    def layer_targets(self):
        return stream_targets()

    def probes(self, spark, tracer) -> None:
        from diversity_maximization_spark.sources import load

        with tracer.span("probe.sources.scan"):
            noop_write(load(spark, self.dir, "embeddings"))


class QueryMix(Workload):
    """The 16 headline registry keys plus the sharded streaming coreset
    key, each built and collect()ed, in registry order. The fixture
    data is one fixed sf0.1-shaped set (generated once per checkout),
    so oracle answers are computed once in DuckDB and cached on disk; a
    key without an oracle must return the same rows every time, in
    every run on that data. The seed does not change this workload:
    seeded query orders spread pass times and JVM memory by order
    effects alone."""

    DATA_SEED = 0
    STREAM_KEY = "div_coreset_stream_sharded"

    def __init__(self, scale: float) -> None:
        import bench

        self.keys = list(bench.HEADLINE) + [self.STREAM_KEY]
        self.scale = scale
        rows = gen.sf_rows(scale)
        self.stream_rows = rows["embeddings"]
        self.input_rows = sum(rows.values()) + 30  # + region, nation

    def prepare(self, work: str, seed: int) -> None:
        self.dir = gen.write_sf(work, self.DATA_SEED, self.scale)
        self.X = gen.read_points(self.dir)
        self.ref = gen.gmm_reference(self.X, K)
        self.quality: dict = {}
        self.last: dict = {}

    def references(self) -> None:
        """Oracle answers as canonical digests (see ``digest``),
        computed in DuckDB once per data set and oracle text."""
        from diversity_maximization_spark import registry
        from diversity_maximization_spark.testing import (
            duck_connection,
            forbidden_duck_types,
        )

        self.expected: dict = {}
        self.answer_paths: dict = {}
        con = None
        for key in self.keys:
            sql = registry.ORACLES.get(key)
            if sql is None:  # no oracle: the first answer on this data
                path = os.path.join(self.dir, f"answer_{key}.pkl")
                self.answer_paths[key] = path
            else:
                tag = hashlib.sha256(sql.encode()).hexdigest()[:16]
                path = os.path.join(self.dir, f"oracle_{key}_{tag}.pkl")
                if not os.path.exists(path):
                    con = con or duck_connection(self.dir)
                    rel = con.sql(sql)
                    pdf = rel.fetchdf()
                    ans = digest(pdf.columns, pdf.itertuples(index=False, name=None))
                    ans["bad"] = forbidden_duck_types(rel)
                    _dump(path, ans)
            if os.path.exists(path):
                with open(path, "rb") as f:
                    self.expected[key] = pickle.load(f)

    def run_pass(self, spark, tracer):
        from diversity_maximization_spark import registry

        out = []
        self.last = {}
        for key in self.keys:
            with tracer.span("query", key=key) as q:
                with tracer.span("query.construct", key=key):
                    df = registry.QUERIES[key](spark, self.dir)
                with tracer.span("query.collect", key=key) as c:
                    rows = df.collect()
                    c.attrs["rows"] = len(rows)
            self.last[key] = df
            out.append((q.dur, functools.partial(self.check, key, df.columns, rows)))
        return out

    def check(self, key: str, cols, rows) -> list[str]:
        """Compare a collected result with its oracle answer (or, for a
        key without one, with its first answer on this data)."""
        from diversity_maximization_spark.diversity import kernel

        got = digest(cols, rows)
        want = self.expected.get(key)
        if want is None:
            want = self.expected[key] = got
            _dump(self.answer_paths[key], got)
        if key == "div_coreset_mr":
            ids = np.asarray(sorted(r["vec_id"] for r in rows))
            chosen, _, _ = kernel.farthest_first(self.X[ids], K, start=0)
            self.quality = quality(self.X, ids[chosen], self.ref)
        if want.get("bad"):
            return [f"{key}: oracle result types {want['bad']} cannot match Spark's"]
        for field in ("cols", "rows", "hash"):
            if got[field] != want[field]:
                return [f"{key}: {field} {got[field]} differ from expected {want[field]}"]
        return []

    def layer_targets(self):
        return stream_targets()

    def probes(self, spark, tracer) -> None:
        """Execute every query of the traced pass once more through the
        noop sink: execution without row transfer to the driver."""
        for key, df in self.last.items():
            with tracer.span("probe.query.execute", key=key):
                noop_write(df)


def digest(cols, rows) -> dict:
    """Order-insensitive digest of a result: column names, row count
    and the sum of 64-bit hashes of the rows in testing.canon's
    type-tagged form (columns in name order, the oracle comparison's
    convention), so int 1 and float 1.0 differ. Constant memory."""
    from diversity_maximization_spark.testing import canon

    cols = list(cols)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    n = total = 0
    for r in rows:
        row = repr(tuple(canon(r[i]) for i in order)).encode()
        total += int.from_bytes(hashlib.blake2b(row, digest_size=8).digest(), "little")
        n += 1
    return {"cols": sorted(cols), "rows": n, "hash": total % (1 << 64)}


def _dump(path: str, obj) -> None:
    with open(path + ".tmp", "wb") as f:
        pickle.dump(obj, f)
    os.replace(path + ".tmp", path)


def make(name: str, scale: float = 1.0) -> Workload:
    """The named workload at ``scale`` times its stated input size."""
    if name == "coreset_batch":
        return CoresetBatch(int(100_000 * scale))
    if name == "stream_coreset":
        return StreamCoreset(int(20_000 * scale))
    if name == "query_mix":
        return QueryMix(scale)
    raise SystemExit(f"unknown workload {name!r}")
