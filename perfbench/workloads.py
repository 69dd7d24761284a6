"""The three workloads. ``harness.run`` drives each one in its own
process:

1. ``references``: reference answers, computed (or read from the cache)
   before any Spark work;
2. ``setup``: the workload's state on the live session, rebuilt on each
   of ``SETUP_REPS`` set-ups;
3. ``cycle``: one round of timed public calls, each ending in one Spark
   aggregate (row count + row-CRC sum) that is checked against the
   reference;
4. ``extras``: layer-only calls of a traced run (separately timed
   sub-steps, the serving latency ladder).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from perfbench import inputs, loadgen, reference
from perfbench.spans import Tracer
from perfbench.stats import digest, median, percentile, spark_digest

SETUP_REPS = 3
MAX_CYCLES = 40

# Sizes of the timed runs ("bench") and of the full sf0.1 inputs
# ("full"); "full" is for one-off row-count checks, not for timing.
SIZES = {
    "bench": {
        "batch_names": 1500,
        "group_names": 1000,
        "group_count": 6,
        "serve_names": 15_000,
        "serve_lookups": 180,
        "docs": 1500,
        "vectors": 800,
    },
    "full": {
        "batch_names": 15_000,
        "group_names": 15_000,
        "group_count": 8,
        "serve_names": 15_000,
        "serve_lookups": 360,
        "docs": 40_000,
        "vectors": 9000,
    },
}

# serving: one light open-loop rate, and a ladder for the highest rate
# that holds p99 <= 250 ms without a growing backlog
LIGHT_RPS = 25.0
LIGHT_N = 120
LADDER = [25, 50, 75, 100, 150, 200, 300, 400, 600, 800, 1200]
P99_LIMIT_S = 0.250
NEAR_DUP_T = 0.8
SEM_T = 0.95
SEM_CELLS = 16
KMEANS_ITERS = 6


class Ctx:
    """What a workload needs from its run: inputs, session, tracer, and
    the count of checked operations."""

    def __init__(self, seed: int, trace: bool, scale: str, work: str, cache: str):
        self.seed = seed
        self.scale, self.sizes = scale, SIZES[scale]
        self.work, self.cache = work, cache
        self.nproc = os.cpu_count() or 1
        self.tracer = Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []

    def check(self, what: str, got, want) -> bool:
        self.attempted += 1
        if list(got) != list(want):
            self.failed += 1
            self.mismatches.append(f"{what}: got {list(got)} want {list(want)}")
            return False
        return True

    def fail(self, what: str, err: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.mismatches.append(f"{what}: {type(err).__name__}: {err}")


def _df(spark, **cols):
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(cols))


def _node_digest(pt) -> tuple[int, list[int]]:
    """(node rows, [word count, word CRC sum]) of a node table in one
    aggregate; end-cap rows (``is_word``) carry the full word."""
    r = pt.selectExpr(
        "count(1) as n",
        "sum(cast(is_word as int)) as w",
        "coalesce(sum(if(is_word, crc32(node), 0)), 0) as h",
    ).first()
    return int(r["n"]), [int(r["w"] or 0), int(r["h"])]


RESULT_COLS = ["query_string", "node", "final_distance"]


class Workload:
    name = ""
    work_keys: tuple[str, ...] = ()  # the cycle timings that add up to work_s

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def references(self) -> None: ...

    def setup(self) -> None: ...

    def cycle(self, c: int) -> dict[str, float]: ...

    def extras(self) -> dict[str, float]:
        return {}

    def close(self) -> None: ...

    def release(self, *names: str) -> None:
        """Unpersist what a previous set-up left cached."""
        for name in names:
            if hasattr(self, name):
                getattr(self, name).unpersist()


class FuzzyBatch(Workload):
    """Build, batch query at k=1 and k=2, the both-sides-big filegroups
    path (``write_query_groups`` + ``query_groups``) against a second,
    four-variant dictionary, and an incremental add + remove."""

    name = "fuzzy_batch"
    work_keys = ("build_s", "query_k1_s", "query_k2_s", "groups_s", "update_s")

    def references(self):
        c = self.ctx
        self.inp = inputs.fuzzy_batch(c.sizes["batch_names"], c.seed)
        self.grp = inputs.fuzzy_groups(c.sizes["group_names"], c.seed)
        self.chunk = -(-len(self.grp.queries) // c.sizes["group_count"])
        self.ref = reference.cached(
            c.cache, f"fuzzy_batch-{c.scale}-{c.seed}", [vars(self.inp), vars(self.grp)],
            lambda: {
                "query": reference.fuzzy_digests(self.inp.queries, self.inp.words, [1, 2], c.nproc),
                "groups": reference.fuzzy_digests(self.grp.queries, self.grp.words, [2], c.nproc)["2"],
                "words": reference.words_digest(self.inp.words),
                "base": reference.words_digest(self.inp.base),
            },
        )

    def setup(self):
        c, t = self.ctx, self.ctx.tracer
        from prefixtree_spark import create

        self.release("pt90", "pt_groups", "words", "queries", "delta", "gqueries")
        self.path = os.path.join(c.work, "query_groups")
        self.words = _df(c.spark, w=self.inp.words).cache()
        self.queries = _df(c.spark, q=self.inp.queries).cache()
        self.delta = _df(c.spark, w=self.inp.delta).cache()
        self.gqueries = _df(c.spark, q=self.grp.queries).cache()
        for d in (self.words, self.queries, self.delta, self.gqueries):
            d.count()
        with t.span("create"):
            self.pt90 = create(_df(c.spark, w=self.inp.base), "w").persist()
            self.pt90.count()
        with t.span("create"):
            self.pt_groups = create(_df(c.spark, w=self.grp.words), "w").persist()
            self.pt_groups.count()

    def cycle(self, k):
        c, t = self.ctx, self.ctx.tracer
        from prefixtree_spark import add_words, create, query, query_groups, remove_words, write_query_groups

        out = {}
        with t.span("create", k) as s:
            pt = create(self.words, "w").persist()
            s.attrs["nodes"], words = _node_digest(pt)
            s.attrs["words"] = words[0]
        c.check("create words", words, self.ref["words"])
        out["build_s"] = s.wall_s
        for dist in (1, 2):
            with t.span(f"query_k{dist}", k) as s:
                got = spark_digest(query(pt, self.queries, "q", dist, mode="auto"), RESULT_COLS)
                s.attrs["rows"] = got[0]
            c.check(f"query k={dist}", got, self.ref["query"][str(dist)])
            out[f"query_k{dist}_s"] = s.wall_s
        with t.span("write_query_groups", k) as sw:
            n = write_query_groups(self.gqueries, "q", self.path, chunk_size=self.chunk)
        c.check("write_query_groups groups", [n], [c.sizes["group_count"]])
        with t.span("query_groups", k) as sq:
            got = spark_digest(query_groups(self.pt_groups, self.path, 2, colocated=True), RESULT_COLS)
            sq.attrs["rows"] = got[0]
        c.check("query_groups", got, self.ref["groups"])
        out["groups_s"], out["groups.write_s"], out["groups.query_s"] = sw.wall_s + sq.wall_s, sw.wall_s, sq.wall_s
        with t.span("add_words", k) as sa:
            added = add_words(self.pt90, self.delta, "w").persist()
            sa.attrs["nodes"], words = _node_digest(added)
        c.check("add_words words", words, self.ref["words"])
        with t.span("remove_words", k) as sr:
            removed = remove_words(added, self.delta, "w").persist()
            sr.attrs["nodes"], words = _node_digest(removed)
        c.check("remove_words words", words, self.ref["base"])
        out["update_s"] = sa.wall_s + sr.wall_s
        for d in (pt, added, removed):
            d.unpersist()
        return out


class Replica:
    """The Spark-free serving replica, driven over its stdin/stdout."""

    def __init__(self, env: dict):
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.replica"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=env,
        )

    def call(self, **msg) -> dict:
        self.proc.stdin.write(json.dumps(msg) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("serving replica exited")
        reply = json.loads(line)
        if "error" in reply:
            raise RuntimeError(f"replica: {reply['error']}")
        return reply

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.call(cmd="stop")
            except (RuntimeError, OSError, ValueError):
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


class ServeLookup(Workload):
    name = "serve_lookup"

    def references(self):
        c = self.ctx
        self.words = [inputs.name(k) for k in range(c.sizes["serve_names"])]
        self.lookups = inputs.serve_queries(c.sizes["serve_lookups"], c.seed)
        self.hits = reference.cached(
            c.cache, f"serve_lookup-{c.scale}-{c.seed}", [self.lookups, self.words],
            lambda: reference.fuzzy_hits(self.lookups, self.words, 1, c.nproc),
        )
        self.replica = None

    def setup(self):
        c, t = self.ctx, self.ctx.tracer
        from prefixtree_spark import create
        from prefixtree_spark.operators.build import publish_index

        if self.replica is None:
            self.replica = Replica(dict(os.environ))
        root = os.path.join(c.work, "published_index")
        with t.span("create"):
            pt = create(_df(c.spark, w=self.words), "w").persist()
            pt.count()
        with t.span("publish_index") as sp:
            publish_index(pt, root)
        pt.unpersist()
        with t.span("load_local_index_published"):
            r = self.replica.call(cmd="load", root=root)
        self.port = r["port"]
        self.publish_s, self.load_s = sp.wall_s, r["load_s"]

    def _send(self, idx: list[int], due: list[float]) -> list[loadgen.Record]:
        paths = [loadgen.search_path(self.lookups[i], 1) for i in idx]
        recs = loadgen.run("127.0.0.1", self.port, paths, due, self.ctx.nproc)
        for r in recs:
            q = self.lookups[idx[r.index]]
            self.ctx.check(f"/search {q}", [r.ok, r.body], [True, self.hits[q]])
        return recs

    def _idx(self, n: int, start: int) -> list[int]:
        return [(start + i) % len(self.lookups) for i in range(n)]

    def cycle(self, k):
        n = len(self.lookups)
        with self.ctx.tracer.span("http_burst", k) as s:
            self._send(self._idx(n, 0), [0.0] * n)
        return {"work_s": s.wall_s}

    def extras(self):
        c, t = self.ctx, self.ctx.tracer
        out: dict[str, float] = {}
        idx = self._idx(LIGHT_N, 0)
        with t.span("http_light"):
            light = self._send(idx, loadgen.poisson_due(LIGHT_RPS, LIGHT_N, c.seed))
        lat = [r.latency * 1000 for r in light]
        out["serve_p50_ms"] = percentile(lat, 0.5).value
        out["serve_p90_ms"] = percentile(lat, 0.9).value  # the highest with ten samples beyond
        out["serve_p99_ms"] = percentile(lat, 0.99).value
        out["serve.samples"] = len(lat)
        out["serve.queue_ms"] = percentile([r.queue * 1000 for r in light], 0.5).value
        out["gen.late_ms"] = percentile([r.late * 1000 for r in light], 0.5).value
        # direct kernel time for the same lookups, no HTTP in between
        with t.span("LocalIndex.search"):
            kms = self.replica.call(cmd="kernel", queries=[self.lookups[i] for i in idx], k=1)["ms"]
        out["kernel.search_p50_ms"] = percentile(kms, 0.5).value
        out["kernel.search_p99_ms"] = percentile(kms, 0.99).value
        out["http.overhead_ms"] = median([r.service * 1000 - kms[r.index] for r in light])
        best, sent, start = 0.0, len(light), LIGHT_N
        for rate in LADDER:
            n = max(100, rate)  # at least the samples a p99 needs
            with t.span(f"http_ladder_{rate}"):
                recs = self._send(self._idx(n, start), loadgen.poisson_due(rate, n, c.seed + rate))
            start, sent = start + n, sent + n
            ok = percentile([r.latency for r in recs], 0.99).value <= P99_LIMIT_S
            if not ok or loadgen.backlog_grows(recs, P99_LIMIT_S / 2):
                break
            best = float(rate)
        out["serve_max_rps"] = best
        out["serve.requests"] = sent
        out["publish.s"], out["replica.load_s"] = self.publish_s, self.load_s
        return out

    def close(self):
        if self.replica is not None:
            self.replica.close()


class CorpusDedup(Workload):
    name = "corpus_dedup"
    work_keys = ("near_dup_s", "semantic_dedup_s")

    def references(self):
        c = self.ctx
        self.ids, self.texts = inputs.documents(c.sizes["docs"], c.seed)
        self.vecs = inputs.vectors(c.sizes["vectors"], c.seed)

        def compute():
            pairs = reference.jaccard_pairs(self.texts, NEAR_DUP_T)
            return {
                "pairs": list(digest(pairs)),
                "near": list(digest((i,) for i in reference.near_dup_survivors(self.ids, self.texts, NEAR_DUP_T))),
                "sem": list(digest((i,) for i in reference.semantic_survivors(self.vecs, SEM_T))),
            }

        self.ref = reference.cached(
            c.cache, f"corpus_dedup-{c.scale}-{c.seed}",
            [self.texts, self.vecs.tolist(), NEAR_DUP_T, SEM_T], compute,
        )

    def setup(self):
        c = self.ctx
        self.release("docs", "vdf")
        self.docs = _df(c.spark, id=self.ids, text=self.texts).cache()
        self.vdf = _df(c.spark, id=list(range(len(self.vecs))), v=[list(map(float, r)) for r in self.vecs]).cache()
        self.docs.count()
        self.vdf.count()

    def cycle(self, k):
        c, t = self.ctx, self.ctx.tracer
        from prefixtree_spark import kmeans_fit, semantic_dedup_ivf
        from prefixtree_spark.operators.dedup import dedup_corpus

        with t.span("dedup_corpus", k) as sd:
            near = spark_digest(dedup_corpus(self.docs, "id", "text", threshold=NEAR_DUP_T), ["id"])
        c.check("dedup_corpus survivors", near, self.ref["near"])
        with t.span("kmeans_fit", k) as sk:
            cents = kmeans_fit(self.vdf, "v", SEM_CELLS, iters=KMEANS_ITERS, seed=c.seed)
        with t.span("semantic_dedup_ivf", k) as ss:
            got = spark_digest(
                semantic_dedup_ivf(self.vdf, "id", "v", threshold=SEM_T, centroids=cents), ["id"]
            )
        c.check("semantic_dedup_ivf survivors", got, self.ref["sem"])
        return {
            "near_dup_s": sd.wall_s,
            "semantic_dedup_s": sk.wall_s + ss.wall_s,
            "kmeans.fit_s": sk.wall_s,
            "semdedup.verify_s": ss.wall_s,
            "dedup.survivors": near[0],
            "semdedup.survivors": got[0],
        }

    def extras(self):
        c, t = self.ctx, self.ctx.tracer
        from pyspark.sql import functions as F

        from prefixtree_spark.operators.dedup import minhash_lsh_pairs
        from prefixtree_spark.operators.graph import connected_components

        with t.span("minhash_lsh_pairs") as sl:
            pairs = minhash_lsh_pairs(self.docs, "id", "text", threshold=NEAR_DUP_T).persist()
            got = spark_digest(pairs, ["id1", "id2"])
        c.check("minhash_lsh_pairs", got, self.ref["pairs"])
        edges = pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        nodes = edges.select(F.col("src").alias("node")).union(edges.select("dst")).distinct()
        with t.span("connected_components") as sc:
            connected_components(nodes, edges).count()
        pairs.unpersist()
        return {"lsh.s": sl.wall_s, "lsh.pairs": got[0], "cc.s": sc.wall_s}


WORKLOADS = {w.name: w for w in (FuzzyBatch, ServeLookup, CorpusDedup)}
