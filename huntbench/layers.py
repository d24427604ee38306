"""Per-layer metrics of a traced run, named by the program's modules.

Times are per operation (one request, or one operator call) and are
means, so a layer's share of an operation adds up across layers. A
layer that a workload never calls reports 0.
"""

from __future__ import annotations

import os
import statistics

from huntbench.trace import jobs_in, read_event_log

BUILD_STAGES = ("doc_meta", "schema", "postings", "context_stats", "term_stats",
                "term_totals", "blocks", "term_dict")
DEDUP_OPS = ("minhash", "ngram", "simhash")

UNITS = {
    "server.handle_ms": "ms",
    "server.wire_ms": "ms",
    "server.wait_ms": "ms",
    "engine.plan_ms": "ms",
    "engine.execute_ms": "ms",
    "engine.count_ms": "ms",
    "engine.plan_cache_hit_frac": "ratio",
    "engine.cache_ms": "ms",
    "parser.parse_ms": "ms",
    "compiler.eval_ms": "ms",
    "wand.plan_ms": "ms",
    "wand.routed_frac": "ratio",
    "wand.blocks_scanned_frac": "ratio",
    "wand.seed_jobs_per_op": "count",
    "build.wall_s": "s",
    **{f"build.{s}_s": "s" for s in BUILD_STAGES},
    "catalog.commit_ms": "ms",
    "catalog.read_ms": "ms",
    "catalog.snapshots": "count",
    "catalog.files": "count",
    "catalog.bytes": "B",
    "catalog.bytes_per_text_byte": "ratio",
    **{
        f"textops.{op}.{m}": u
        for op in DEDUP_OPS
        for m, u in (("ms", "ms"), ("pairs", "count"), ("candidates", "count"),
                     ("verify_yield", "ratio"), ("task_skew", "ratio"))
    },
    "dedup.persisted_rdds_at_pass_start": "count",
    "spark.jobs_per_op": "count",
    "spark.plan_jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_s_per_op": "s",
    "spark.shuffle_read_bytes_per_op": "B",
    "spark.shuffle_write_bytes_per_op": "B",
    "spark.spill_bytes_per_op": "B",
    "spark.gc_s_per_op": "s",
    "trace.overhead_ms": "ms",
    "trace.remainder_ms": "ms",
}


def zero_layers() -> dict:
    return {k: 0.0 for k in UNITS}


def _descendants(ch: dict, i: int) -> list[int]:
    out, todo = [], list(ch.get(i, ()))
    while todo:
        c = todo.pop()
        out.append(c)
        todo.extend(ch.get(c, ()))
    return out


def _top_ms(spans, idxs: list[int], name: str) -> float:
    """Summed ms of ``name`` spans in idxs not nested in another one."""
    total = 0.0
    for i in idxs:
        s = spans[i]
        if s.name != name:
            continue
        p = s.parent
        while p is not None and spans[p].name != name:
            p = spans[p].parent
        if p is None or p not in idxs:
            total += (s.t1 - s.t0) * 1000.0
    return total


def spark_per_op(jobs, windows: list[tuple[float, float]], plan_windows) -> dict:
    n = len(windows) or 1
    op_jobs = [j for w in windows for j in jobs_in(jobs, *w)]
    return {
        "spark.jobs_per_op": len(op_jobs) / n,
        "spark.plan_jobs_per_op": sum(len(jobs_in(jobs, *w)) for w in plan_windows) / n,
        "spark.tasks_per_op": sum(j.tasks for j in op_jobs) / n,
        "spark.task_s_per_op": sum(j.task_s for j in op_jobs) / n,
        "spark.shuffle_read_bytes_per_op": sum(j.shuffle_read for j in op_jobs) / n,
        "spark.shuffle_write_bytes_per_op": sum(j.shuffle_write for j in op_jobs) / n,
        "spark.spill_bytes_per_op": sum(j.spill for j in op_jobs) / n,
        "spark.gc_s_per_op": sum(j.gc_s for j in op_jobs) / n,
    }


def catalog_layers(catalog, text_bytes: int) -> dict:
    snaps = catalog.snapshots()
    files = size = 0
    for table in sorted({e["table"] for e in snaps}):
        for path in catalog.current_paths(table):
            for d, _sub, names in os.walk(path):
                for f in names:
                    files += 1
                    size += os.path.getsize(os.path.join(d, f))
    return {"catalog.snapshots": len(snaps), "catalog.files": files,
            "catalog.bytes": size, "catalog.bytes_per_text_byte": size / text_bytes}


def search_layers(run, eng, entries: dict, docs, results: list[dict]) -> dict:
    tr = run.tracer
    S = tr.spans
    ch = tr.children()
    by_rid = {r["rid"]: r for r in results}
    handles = {S[i].rid: i for i in tr.top("server.handle") if S[i].rid in by_rid}
    n = len(handles) or 1
    out: dict = {}
    acc = dict.fromkeys(
        ("server.handle_ms", "server.wire_ms", "server.wait_ms", "engine.plan_ms",
         "engine.execute_ms", "engine.count_ms", "parser.parse_ms", "compiler.eval_ms",
         "wand.plan_ms", "catalog.read_ms", "trace.remainder_ms"), 0.0)
    hits = lookups = routed = searches = 0
    blocks = scanned = seed_jobs = 0
    windows, plan_windows = [], []
    for rid, h in handles.items():
        r, hs = by_rid[rid], S[h]
        idxs = _descendants(ch, h)
        sub = set(idxs)
        dur = (hs.t1 - hs.t0) * 1000.0
        acc["server.handle_ms"] += dur
        acc["server.wire_ms"] += (r["recv"] - r["send"]) * 1000.0 - dur
        acc["server.wait_ms"] += (hs.t0 - r["send"]) * 1000.0
        acc["trace.remainder_ms"] += tr.self_time(h, ch) * 1000.0
        for name, key in (("engine.plan", "engine.plan_ms"), ("engine.count", "engine.count_ms"),
                          ("parser.parse", "parser.parse_ms"),
                          ("compiler.eval", "compiler.eval_ms"), ("wand.plan", "wand.plan_ms"),
                          ("catalog.read", "catalog.read_ms")):
            acc[key] += _top_ms(S, idxs, name)
        acc["engine.execute_ms"] += sum(
            (S[c].t1 - S[c].t0) * 1000.0 for c in ch.get(h, ()) if S[c].name == "spark.collect"
        )
        for i in sub:
            s = S[i]
            if "hit" in s.info:
                lookups += 1
                hits += bool(s.info["hit"])
            if s.name == "wand.plan":
                blocks += s.info.get("blocks_total", 0)
                scanned += s.info.get("blocks_scanned", 0)
                seed_jobs += s.info.get("seed_jobs", 0)
            if s.name == "engine.plan":
                plan_windows.append((s.t0, s.t1))
        if r["route"] == "search":
            searches += 1
            routed += any(S[i].name == "wand.plan" for i in sub)
        windows.append((hs.t0, hs.t1))
    out.update({k: v / n for k, v in acc.items()})
    out["engine.plan_cache_hit_frac"] = hits / lookups if lookups else 0.0
    out["wand.routed_frac"] = routed / searches if searches else 0.0
    out["wand.blocks_scanned_frac"] = scanned / blocks if blocks else 0.0
    out["wand.seed_jobs_per_op"] = seed_jobs / n
    out["engine.cache_ms"] = sum((S[i].t1 - S[i].t0) * 1000.0 for i in tr.top("engine.cache"))
    out["catalog.commit_ms"] = sum(
        (S[i].t1 - S[i].t0) * 1000.0 for i in tr.top("catalog.commit")
    )
    out["build.wall_s"] = max(e.get("t1_s", 0.0) for e in entries.values())
    for st in BUILD_STAGES:
        e = entries.get(st, {})
        out[f"build.{st}_s"] = e.get("t1_s", 0.0) - e.get("t0_s", 0.0)
    out.update(catalog_layers(eng.catalog, sum(len(t.encode()) for _u, t in docs)))
    out.update(spark_per_op(read_event_log(run.event_dir), windows, plan_windows))
    return out


def dedup_layers(run, ops: list[dict], persisted_max: int) -> dict:
    """``ops``: the traced operator calls, each with name,
    t0, t1 (the whole call + collect) and pairs."""
    S = run.tracer.spans
    jobs = read_event_log(run.event_dir)
    out: dict = {"dedup.persisted_rdds_at_pass_start": persisted_max}
    calls = [s for s in S if s.name.startswith("textops.")]
    remainder = 0.0
    for name in DEDUP_OPS:
        mine = [o for o in ops if o["op"] == name]
        if not mine:
            continue
        k = len(mine)
        cand = pairs = 0
        skews = []
        for o in mine:
            op_jobs = jobs_in(jobs, o["t0"], o["t1"])
            cand += max((n for j in op_jobs for n in j.join_rows.values()), default=0)
            pairs += o["pairs"]
            # skew of the op's slowest stage: max / median task time
            stages = [ts for j in op_jobs for ts in j.stage_task_s.values() if ts]
            if stages:
                slow = max(stages, key=sum)
                med = statistics.median(slow)
                skews.append(max(slow) / med if med > 0 else 1.0)
            # op wall not inside the operator call or the result collect
            remainder += (o["t1"] - o["t0"]) - sum(
                s.t1 - s.t0 for s in S
                if s.parent is None and o["t0"] <= s.t0 and s.t1 <= o["t1"]
            )
        out[f"textops.{name}.ms"] = sum((o["t1"] - o["t0"]) * 1000.0 for o in mine) / k
        out[f"textops.{name}.pairs"] = pairs / k
        out[f"textops.{name}.candidates"] = cand / k
        out[f"textops.{name}.verify_yield"] = pairs / cand if cand else 0.0
        out[f"textops.{name}.task_skew"] = statistics.median(skews) if skews else 0.0
    n = len(ops) or 1
    out["trace.remainder_ms"] = remainder * 1000.0 / n
    out.update(spark_per_op(jobs, [(o["t0"], o["t1"]) for o in ops],
                            [(s.t0, s.t1) for s in calls]))
    return out
