"""search_cold: every request misses the plan cache.

Set-up: a seeded FIXTURES §1 corpus (N_DOCS docs, one ``text``
context, so the WAND executor can route flat word queries) is built
into a fresh catalog with ``HuntEngine.build``, pinned with
``HuntEngine.cache`` and served by ``HuntServer``. A separate
load-generator process then sends each warm-up string twice (once to
miss, once to hit the plan cache), and set-up ends.

Measured: one closed-loop client sends never-seen query strings over
``GET /search`` for ``--seconds``. Each request takes the miss path:
parse, compile, WAND driver-side stats and seed collects, execute, and
the count job. (``GET /completion`` is sent and checked in the warm-up
only; see gen.WARM_SHAPES.)

Checked, after the timed phase: every reply is rank-identical to
``hunt_spark.oracle.OracleIndex`` (urls in order, scores within 1e-6,
tie-break score descending then url ascending) and carries the
oracle's total hit count.
"""

from __future__ import annotations

import json
import os
import sys
import time

from huntbench import gen
from huntbench.run import hd_median, metric, peak_rss_mb

N_DOCS = 2000
N_COLD = 400  # more strings than a run can send
HERE = os.path.dirname(os.path.abspath(__file__))


def check_reply(oracle, res: dict) -> bool:
    """True iff the reply matches the oracle exactly (scores 1e-6)."""
    if res["status"] != 200:
        return False
    body, q = res["body"], res["q"]
    if res["route"] == "completion":
        want = oracle.complete_query(q, k=10)
        got = [(w, s) for w, s in body]
    else:
        full = oracle.search(q, k=10**9)
        if body.get("count") != len(full):
            return False
        want = [(url, s) for _id, url, s in full[:10]]
        got = [(r["uri"], r["score"]) for r in body["result"]]
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(g[1] - w[1]) <= 1e-6 for g, w in zip(got, want)
    )


def build_oracle(docs):
    from hunt_spark.functions.xxh64 import spark_xxhash64
    from hunt_spark.oracle import OracleIndex

    ids = [spark_xxhash64(url) for url, _ in docs]
    return OracleIndex(
        [(i, url, 1.0) for i, (url, _t) in zip(ids, docs)],
        {"text": {i: text for i, (_u, text) in zip(ids, docs)}},
    )


def run_search_cold(run) -> dict:
    from pyspark.sql import functions as F

    args, tr = run.args, run.tracer
    docs = gen.corpus(args.seed, N_DOCS)
    warm = gen.warm_requests(args.seed, docs)
    cold = gen.cold_requests(args.seed, docs, N_COLD)

    spark = run.session()
    print(f"# session up at {time.time() - run.t_start:.1f}s", file=sys.stderr)
    from hunt_spark.engine import HuntEngine
    from hunt_spark.operators.build import BuildConfig
    from hunt_spark.server import HuntServer
    from hunt_spark.sources.catalog import IndexCatalog

    if tr is not None:
        tr.wrap(HuntEngine, "build", "engine.build")
        tr.wrap(HuntEngine, "cache", "engine.cache")
        tr.wrap(IndexCatalog, "commit", "catalog.commit")
        tr.wrap(IndexCatalog, "read", "catalog.read")
    eng = HuntEngine(
        spark, os.path.join(run.work, "catalog"),
        BuildConfig(n_shards=run.cpus, salt_buckets=1, block_size=256),
    )
    entries = eng.build(
        spark.createDataFrame(docs, "url string, text string"),
        {"text": F.col("text")}, build_id=f"seed{args.seed}",
    )
    print(f"# build done at {time.time() - run.t_start:.1f}s", file=sys.stderr)
    eng.cache()
    srv = HuntServer(eng).start()
    try:
        lg = run.spawn([sys.executable, os.path.join(HERE, "loadgen.py")])
        base = f"http://127.0.0.1:{srv.port}"

        def phase(reqs, seconds, clients=1):
            lg.stdin.write(json.dumps({"base": base, "clients": clients, "seconds": seconds,
                                       "requests": reqs}) + "\n")
            lg.stdin.flush()
            return json.loads(lg.stdout.readline())

        # warm-up: every shape misses once, then hits once; concurrent
        # clients overlap the JIT warm-up of the miss path
        warm_reqs = [[r, q, f"w{i}"] for i, (_s, _b, r, q) in enumerate(warm + warm)]
        warm_out = phase(warm_reqs[: len(warm)], None, clients=run.cpus)
        warm_out["results"] += phase(warm_reqs[len(warm):], None, clients=run.cpus)["results"]
        print(f"# warm-up done at {time.time() - run.t_start:.1f}s", file=sys.stderr)
        setup_s = time.time() - run.t_start
        reqs = [[r, q, f"c{i}"] for i, (_s, _b, r, q) in enumerate(cold)]
        if tr is not None:
            wrap_query_layers(tr, spark)
        timed = phase(reqs, args.seconds)
    finally:
        srv.shutdown()

    res = timed["results"]
    print("# timed " + " ".join(
        f"{cold[int(r['rid'][1:])][0]}/{cold[int(r['rid'][1:])][1]}="
        f"{(r['recv'] - r['send']) * 1000.0:.0f}" for r in res), file=sys.stderr)
    oracle = build_oracle(docs)
    replies = warm_out["results"] + res
    failed = sum(not check_reply(oracle, r) for r in replies)
    lat = lambda rs: [(r["recv"] - r["send"]) * 1000.0 for r in rs]  # noqa: E731
    result = {"correct": failed == 0, "attempted": len(replies), "failed": failed}
    if tr is None:
        result["metrics"] = {
            "setup_s": metric(setup_s, "s"),
            "latency_p50_ms": metric(hd_median(lat(res)), "ms"),
            "ops_per_s": metric(len(res) / (timed["t1"] - timed["t0"]), "1/s"),
            "driver_py_rss_mb": metric(peak_rss_mb(), "MB"),
        }
        return result
    run.stop_spark()  # flushes the event log
    from huntbench.layers import UNITS, search_layers, zero_layers

    traced = [r for r in res if is_traced(r["rid"])]
    layers = zero_layers()
    layers.update(search_layers(run, eng, entries, docs, traced))
    layers["trace.overhead_ms"] = hd_median(lat(traced)) - hd_median(
        lat([r for r in res if not is_traced(r["rid"])])
    )
    result["metrics"] = {k: metric(layers[k], u) for k, u in UNITS.items()}
    return result


def is_traced(rid: str | None) -> bool:
    """Odd-numbered timed requests are traced, even ones are not."""
    return rid is not None and rid.startswith("c") and int(rid[1:]) % 2 == 1


def wrap_query_layers(tr, spark) -> None:
    """Spans around every public call a search or completion request
    makes, from the server handler down to Spark actions."""
    from hunt_spark.engine import HuntEngine
    from hunt_spark.plans import parser
    from hunt_spark.plans.compiler import QueryCompiler
    from hunt_spark.plans.wand import WandExecutor
    from hunt_spark.server import HuntServer
    import hunt_spark.engine as engine_mod
    from huntbench.trace import rid_from_path

    seen: dict[int, object] = {}

    def hit(_args, df):
        # a plan-cache hit returns a DataFrame object handed out before
        h = id(df) in seen
        seen[id(df)] = df
        return {"hit": h}

    def wand_stats(args, _res):
        st = args[0].last_stats or {}
        return {k: st.get(k, 0) for k in ("blocks_total", "blocks_scanned", "seed_jobs")}

    tr.wrap(HuntServer, "handle_get", "server.handle", rid_of=rid_from_path, gate=is_traced)
    tr.wrap(HuntServer, "handle_mutate", "server.handle", rid_of=rid_from_path, gate=is_traced)
    tr.wrap(HuntEngine, "search", "engine.plan", after=hit)
    tr.wrap(HuntEngine, "completion", "engine.completion", after=hit)
    tr.wrap(HuntEngine, "complete_query", "engine.plan")
    tr.wrap(HuntEngine, "search_count", "engine.count")
    tr.wrap(parser, "parse_query", "parser.parse")
    tr.wrap(engine_mod, "parse_query", "parser.parse")
    tr.wrap(QueryCompiler, "eval", "compiler.eval")
    tr.wrap(WandExecutor, "topk_candidates", "wand.plan", after=wand_stats)
    tr.wrap(type(spark.range(1)), "collect", "spark.collect")
