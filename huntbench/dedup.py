"""dedup: the near-duplicate operators of ``operators.textops``.

Input: N_BACKGROUND seeded FIXTURES §1 docs plus planted
near-duplicate clusters with heavy-tailed sizes (gen.CLUSTER_SIZES);
the largest cluster's copies share their LSH buckets, so one bucket
dominates the candidate join.

Set-up ends after WARM_PASSES untimed warm-up passes. A measured pass clears
Spark's cache, confirms no persisted RDD survives, then calls and
collects ``minhash_lsh_pairs(0.8)``, ``ngram_jaccard_pairs(0.8)`` and
``simhash_pairs(3)``; re-materialising the shingle frames counts in
the pass. Passes repeat until ``--seconds`` have passed; the last pass
completes. The end-to-end operation is one pass: the three operators'
latencies differ about threefold, so a median over single calls would
swing with whichever operator sits in the middle of a few samples.

Checked, after timing: every ngram and minhash pair has exact
3-shingle Jaccard >= 0.8; every planted pair at or above 0.8 is found
by both; every simhash pair is within Hamming distance 3 and every
planted exact duplicate is found; each operator returns the same pair
set on every pass.
"""

from __future__ import annotations

import sys
import time
from itertools import combinations

from huntbench import gen
from huntbench.layers import DEDUP_OPS, UNITS, dedup_layers, zero_layers
from huntbench.run import hd_median, median, metric, peak_rss_mb

N_BACKGROUND = 1500
THRESHOLD = 0.8
MAX_HAMMING = 3
WARM_PASSES = 2


class Dedup:
    def __init__(self, run, docs) -> None:
        from hunt_spark.operators import textops

        self.run = run
        self.spark = run.spark
        self.textops = textops
        self.df = self.spark.createDataFrame(docs, "doc_id long, text string")
        self.persisted_max = 0
        self.clears = self.leaks = self.calls = 0

    def clear(self) -> None:
        """Drop every cached frame; count the passes where a persisted
        RDD survives the clear."""
        self.spark.catalog.clearCache()
        n = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        self.persisted_max = max(self.persisted_max, n)
        self.clears += 1
        self.leaks += n > 0

    def call(self, name: str) -> dict:
        t = self.textops
        fn = {
            "minhash": lambda: t.minhash_lsh_pairs(self.df, THRESHOLD),
            "ngram": lambda: t.ngram_jaccard_pairs(self.df, THRESHOLD),
            "simhash": lambda: t.simhash_pairs(self.df, MAX_HAMMING),
        }[name]
        # in a traced run every other call is traced (see trace.Tracer)
        traced = self.calls % 2 == 1
        self.calls += 1
        if self.run.tracer is not None:
            self.run.tracer.set_recording(traced)
        t0 = time.time()
        rows = fn().collect()
        t1 = time.time()
        key = "hamming" if name == "simhash" else "jaccard_x1e4"
        return {"op": name, "t0": t0, "t1": t1, "pairs": len(rows), "traced": traced,
                "rows": {(r["doc_id_a"], r["doc_id_b"]): r[key] for r in rows}}

    def passes(self, seconds: float) -> dict:
        """Whole passes until ``seconds`` have passed: {"ops", "t0",
        "t1", "pass_ms"}."""
        ops, pass_ms, t0 = [], [], time.time()
        while True:
            p0 = time.time()
            self.clear()
            ops += [self.call(name) for name in DEDUP_OPS]
            pass_ms.append((time.time() - p0) * 1000.0)
            if time.time() - t0 >= seconds:
                return {"ops": ops, "t0": t0, "t1": time.time(), "pass_ms": pass_ms}


def check(ops: list[dict], docs, clusters) -> int:
    """Number of operator calls whose output is wrong."""
    text = dict(docs)
    sh = {i: gen.shingles(t) for i, t in docs}
    planted_j = {
        (a, b): gen.jaccard(sh[a], sh[b])
        for members in clusters for a, b in combinations(sorted(members), 2)
    }
    must_j = {p for p, j in planted_j.items() if j >= THRESHOLD}
    exact_dups = {p for p in planted_j if text[p[0]] == text[p[1]]}
    first: dict[str, set] = {}
    bad = 0
    for o in ops:
        pairs = set(o["rows"])
        ok = first.setdefault(o["op"], pairs) == pairs
        if o["op"] == "simhash":
            ok = ok and all(h <= MAX_HAMMING for h in o["rows"].values())
            ok = ok and exact_dups <= pairs
        else:
            ok = ok and all(gen.jaccard(sh[a], sh[b]) >= THRESHOLD for a, b in pairs)
            ok = ok and must_j <= pairs
        bad += not ok
    return bad


def run_dedup(run) -> dict:
    args, tr = run.args, run.tracer
    docs, clusters = gen.dedup_corpus(args.seed, N_BACKGROUND)
    run.session()
    d = Dedup(run, docs)
    # two untimed passes: the first pass after start-up runs ~20%
    # slower than later ones (JIT), and a second one still drifts
    warm = []
    for _ in range(WARM_PASSES):
        d.clear()
        warm += [d.call(name) for name in DEDUP_OPS]
    setup_s = time.time() - run.t_start
    if tr is not None:
        for name in ("minhash_lsh_pairs", "ngram_jaccard_pairs", "simhash_pairs"):
            tr.wrap(d.textops, name, f"textops.{name.split('_')[0]}")
        tr.wrap(type(d.df), "collect", "spark.collect")
    timed = d.passes(args.seconds)
    print("# timed " + " ".join(f"{o['op']}={(o['t1'] - o['t0']) * 1000.0:.0f}"
                                for o in timed["ops"]), file=sys.stderr)
    ops = warm + timed["ops"]
    # a pass whose start finds a persisted RDD is a failed check too
    failed = check(ops, docs, clusters) + d.leaks
    result = {"correct": failed == 0, "attempted": len(ops) + d.clears, "failed": failed}
    lat = lambda os_: [(o["t1"] - o["t0"]) * 1000.0 for o in os_]  # noqa: E731
    if tr is None:
        result["metrics"] = {
            "setup_s": metric(setup_s, "s"),
            "latency_p50_ms": metric(hd_median(timed["pass_ms"]), "ms"),
            "ops_per_s": metric(len(timed["pass_ms"]) / (timed["t1"] - timed["t0"]), "1/s"),
            "driver_py_rss_mb": metric(peak_rss_mb(), "MB"),
        }
        return result
    run.stop_spark()  # flushes the event log
    traced = [o for o in timed["ops"] if o["traced"]]
    layers = zero_layers()
    layers.update(dedup_layers(run, traced, d.persisted_max))
    # per operator, so the operator mix of the two sides cannot differ
    diffs = []
    for name in DEDUP_OPS:
        mine = [o for o in timed["ops"] if o["op"] == name]
        on = lat([o for o in mine if o["traced"]])
        off = lat([o for o in mine if not o["traced"]])
        if on and off:
            diffs.append(median(on) - median(off))
    layers["trace.overhead_ms"] = sum(diffs) / len(diffs) if diffs else 0.0
    result["metrics"] = {k: metric(layers[k], u) for k, u in UNITS.items()}
    return result
