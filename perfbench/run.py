#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload {costar,analytics,admission} \
        --seed N --seconds S --trace {0,1}

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the JVM client
(perfbench/src/graftbench/Client.scala) on a local[4] Spark session,
checks every answer (perfbench/check.py), writes the full artifact and
span tree under the build directory, and prints the workload's metrics
by name and unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1).
See perfbench/README.md for every metric's definition.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

CORES = 4
JVM_HEAP = "3g"
RUN_LIMIT_S = 170          # one run, build excluded
# one query per level, the root type and degree band alternating
COSTAR_QUERIES = [(True, "high", 2), (False, "low", 3), (True, "low", 4)]
DEGREE_BANDS = {"low": (0.10, 0.30), "high": (0.90, 0.99)}
INGEST_REPEATS = 3
ADMIT_WARM_REPEATS = 3
ADMIT_INC_SIZE = 200
ADMIT_INCS = 150           # more than any run consumes
ADMIT_COMPACT_EVERY = 3
ANALYTICS_SCALE = 0.03
FAMILIES = {
    "relational": ["q_broadcast_join_agg", "q_shuffle_join_agg", "q_agg_stats",
                   "q_window_topk", "q_hourly_events"],
    "graph": ["q_graph_level2", "q_graph_level3", "q_graph_level3_shuffle"],
    "text": ["q_ngram_jaccard", "q_pipeline_e2e"],
    "vector": ["q_cosine_topk", "q_embed_neardup_lsh", "q_embed_neardup_planted",
               "q_ivfpq_search"],
}
# the families the analytics contract metrics cover: rows that run at the
# commit that defined the benchmark, so fixing a failing family later
# does not change what op_p50_s / cycle_s measure
CONTRACT_FAMILIES = ("relational", "graph")

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("cycle_s", "s")]
PER_LAYER = (
    [("ingest.edges_s", "s"), ("ingest.jobs", "count"),
     ("ingest.shuffle_bytes", "B"), ("ingest.edge_rows", "count"),
     ("query.run_s", "s"), ("query.jobs", "count"), ("query.tasks", "count"),
     ("query.task_ms", "ms"), ("query.shuffle_bytes", "B"),
     ("query.driver_gap_share", "share"), ("query.vertices_out", "count"),
     ("output.collect_s", "s"), ("output.dot_render_s", "s")]
    + [(f"operators.{f}.{m}", u) for f in FAMILIES for m, u in (
        ("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("tasks", "count"),
        ("task_ms", "ms"), ("shuffle_bytes", "B"), ("spill_bytes", "B"),
        ("gc_ms", "ms"), ("driver_gap_s", "s"), ("codegen_compile_ms", "ms"))]
    + [("pipeline.admit_s", "s"), ("pipeline.admit_jobs", "count"),
       ("pipeline.admit_driver_gap_share", "share"),
       ("pipeline.admit_task_ms", "ms"), ("pipeline.compact_s", "s"),
       ("pipeline.compact_bytes_rewritten", "B/B"),
       ("pipeline.bytes_written_per_input_byte", "B/B"),
       ("pipeline.state_files", "count"), ("pipeline.admitted_share", "share"),
       ("spark.gc_ms", "ms/s"), ("spark.codegen_compile_ms", "ms/s"),
       ("trace_overhead", "share")])

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]

_child = None


def _stop_child(*_):
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()


def _on_signal(signum, _frame):
    _stop_child()
    sys.exit(128 + signum)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """(value, percentile): the highest percentile with at least 10
    samples beyond it, i.e. the (n-10)-th smallest of n samples."""
    n = len(xs)
    if n <= 10:
        return None, None
    return sorted(xs)[n - 11], round(100.0 * (n - 10) / n, 2)


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
        elif b > end:
            total += b - end
        end = max(end, b)
    return total


def span_gap_ms(spans):
    """Wall time of `spans` not covered by any of their jobs."""
    wall = sum(s["t1_ms"] - s["t0_ms"] for s in spans)
    busy = sum(union_ms(s["job_intervals_ms"], s["t0_ms"], s["t1_ms"]) for s in spans)
    return wall - busy, wall


# ---------------------------------------------------------------------------
# workload input set-up (generation, reference answers, client spec)
# ---------------------------------------------------------------------------


def setup_costar(seed, d):
    meta = gen.imdb(seed, os.path.join(d, "in"))
    edges = check.imdb_edges(os.path.join(d, "in"))
    rng = random.Random(seed)
    queries, expected, props = [], [], []
    adj = {a: (check.adjacency(edges, a), check.adjacency(edges, not a))
           for a in (True, False)}
    for actor, band, level in COSTAR_QUERIES:
        fwd, back = adj[actor]
        by_deg = sorted(fwd, key=lambda v: (len(fwd[v]), v))
        lo, hi = DEGREE_BANDS[band]
        # a root whose expansion reaches every level, so each query runs
        # the same number of BFS levels whatever the seed
        while True:
            i = rng.randrange(int(lo * len(by_deg)), int(hi * len(by_deg)))
            root = by_deg[i]
            want = check.costar_expected(fwd, back, root, level)
            if all(want["level_sizes"]):
                break
        queries.append({"root": root, "actor": actor, "level": level})
        expected.append(want)
        props.append({"type": "actor" if actor else "movie", "band": band,
                      "level": level, "degree": len(fwd[root]),
                      "degree_quantile": round(i / len(by_deg), 4),
                      "level_sizes": want["level_sizes"],
                      "vertices": want["vertices"], "edges": want["edges"]})
    order = list(range(len(queries)))
    rng.shuffle(order)
    spec = {"basics": os.path.join(d, "in", "basics.tsv"),
            "principals": os.path.join(d, "in", "principals.tsv"),
            "names": os.path.join(d, "in", "names.tsv"),
            "queries": queries, "order": order, "ingest_repeats": INGEST_REPEATS}
    inputs = dict(meta, edge_rows_expected=len(edges), queries=props)
    return spec, {"expected": expected, "edge_rows": len(edges)}, inputs


def setup_analytics(seed, d):
    meta = gen.analytics(seed, os.path.join(d, "in"), ANALYTICS_SCALE)
    rows = [{"name": q, "family": f} for f, qs in FAMILIES.items() for q in qs]
    spec = {"dir": os.path.join(d, "in"), "rows": rows,
            "results": os.path.join(d, "results")}
    return spec, {}, meta


def setup_admission(seed, d):
    meta = gen.admission(seed, os.path.join(d, "in"), ADMIT_INCS, ADMIT_INC_SIZE)
    incs = [os.path.join(d, "in", f"inc{k:04d}.parquet") for k in range(ADMIT_INCS)]
    spec = {"incs": incs, "compact_every": ADMIT_COMPACT_EVERY,
            "warm_repeats": ADMIT_WARM_REPEATS}
    n = ADMIT_INCS * ADMIT_INC_SIZE
    inputs = {"increment_docs": ADMIT_INC_SIZE,
              "compact_every": ADMIT_COMPACT_EVERY,
              "exact_dup_share": round(len(meta["exact_dup_ids"]) / n, 4),
              "near_dup_share": round(len(meta["near_dup_ids"]) / n, 4),
              "mean_increment_text_bytes": statistics.mean(meta["text_bytes"])}
    return spec, meta, inputs


# ---------------------------------------------------------------------------
# checks and metrics per workload
#
# `check(res, ref, notes, d)` marks each operation record "wrong" when its
# answer is wrong and returns whether the set-up's own answer was right;
# `metrics(res, ph, ref)` returns the contract metrics and the workload's
# own end-to-end metrics ({name: (value, unit)}) for a view of the
# measured loop, with any latency metric over a set that holds a failed
# or wrong operation reported as null; `layers(res, ref, out)` fills the
# per-layer metrics from the traced operations' spans.
# ---------------------------------------------------------------------------


def view(res, traced):
    """The measured loop restricted to its traced or untraced operations."""
    return dict(res["measure"],
                ops=[o for o in res["measure"]["ops"] if o["traced"] == traced])


def children(res, parent_id):
    return {s["name"]: s for s in res["spans"] if s["parent"] == parent_id}


def dur_s(span):
    return (span["t1_ms"] - span["t0_ms"]) / 1e3


def bad(ops):
    return any(not o["ok"] or o.get("wrong") for o in ops)


def key_medians(ops):
    """Median latency of each distinct operation (by key)."""
    by_key = {}
    for o in ops:
        by_key.setdefault(o["key"], []).append(o["lat_s"])
    return [median(v) for v in by_key.values()]


def null_if(failed, metrics):
    return {k: (None if failed else v, u) for k, (v, u) in metrics.items()}


def sum_spans(spans, field):
    return sum(s[field] for s in spans)


# -- costar -----------------------------------------------------------------


def costar_check(res, ref, notes, d):
    for op in res["warm"] + res["measure"]["ops"]:
        op["wrong"] = op["ok"] and not check.costar_ok(op, ref["expected"][op["key"]])
    if res["edge_rows"] != ref["edge_rows"]:
        notes.append(f"ingest built {res['edge_rows']} edges, expected {ref['edge_rows']}")
        return False
    return True


def costar_metrics(res, ph, ref):
    lat = [o["lat_s"] for o in ph["ops"]]
    meds = key_medians(ph["ops"])
    t, pct = tail(lat)
    failed = bad(ph["ops"])
    contract = null_if(failed, {"op_p50_s": (median(meds), "s"),
                                "cycle_s": (sum(meds), "s")})
    own = null_if(failed, {"costar_p50_s": (median(lat), "s"),
                           "costar_tail_s": (t, "s")})
    own["costar_tail_percentile"] = (pct, "%")
    own["costar_samples"] = (len(lat), "count")
    return contract, own


def costar_layers(res, ref, out):
    ingest = [s for s in res["spans"] if s["name"] == "ingest.edges"]
    out["ingest.edges_s"] = median([dur_s(s) for s in ingest])
    out["ingest.jobs"] = median([s["jobs"] for s in ingest])
    out["ingest.shuffle_bytes"] = median([s["shuffle_bytes"] for s in ingest])
    out["ingest.edge_rows"] = res["edge_rows"]
    per, first = [], {}
    for o in view(res, True)["ops"]:
        kids = children(res, o["span"])
        work = [kids["query.run"], kids["output.collect"]]
        gap, wall = span_gap_ms(work)
        rec = {"run_s": dur_s(kids["query.run"]),
               "collect_s": dur_s(kids["output.collect"]),
               "render_s": dur_s(kids["output.dot_render"]),
               "jobs": sum_spans(work, "jobs"), "tasks": sum_spans(work, "tasks"),
               "task_ms": sum_spans(work, "task_ms"),
               "shuffle_bytes": sum_spans(work, "shuffle_bytes"),
               "gap_share": gap / wall, "vertices": o["vertices"]}
        per.append(rec)
        first.setdefault(o["key"], rec)
    # counts from each distinct query's first traced run repeat exactly
    # for a seed; times are medians over every traced run
    for k in ("jobs", "tasks", "shuffle_bytes"):
        out[f"query.{k}"] = statistics.mean(r[k] for r in first.values())
    out["query.vertices_out"] = statistics.mean(r["vertices"] for r in first.values())
    out["query.run_s"] = median([r["run_s"] for r in per])
    out["query.task_ms"] = median([r["task_ms"] for r in per])
    out["query.driver_gap_share"] = median([r["gap_share"] for r in per])
    out["output.collect_s"] = median([r["collect_s"] for r in per])
    out["output.dot_render_s"] = median([r["render_s"] for r in per])


# -- analytics --------------------------------------------------------------


def analytics_check(res, ref, notes, d):
    names = [w["key"] for w in res["warm"] if w["ok"]]
    cmp = check.oracle_compare(os.path.join(d, "in"), os.path.join(d, "results"),
                               res["oracle"], names)
    expect_rows = {}
    for w in res["warm"]:
        if not w["ok"]:
            notes.append(f"{w['key']} failed: {w['err']}")
            continue
        good, nrows, msg = cmp.get(w["key"], (False, None, "no oracle SQL"))
        w["wrong"] = not good
        if good:
            expect_rows[w["key"]] = nrows
        else:
            notes.append(f"{w['key']} wrong answer: {msg}")
    for o in res["measure"]["ops"]:
        o["wrong"] = o["ok"] and o["rows"] != expect_rows.get(o["key"])
    return True


def analytics_metrics(res, ph, ref):
    """Family seconds: the sum of its rows' median latencies; null when
    any of its operations, answer checks included, failed."""
    fam = {}
    for f, names in FAMILIES.items():
        ops = [o for o in ph["ops"] if o["key"] in names]
        failed = bad(ops) or bad([w for w in res["warm"] if w["key"] in names]) \
            or {o["key"] for o in ops} != set(names)
        fam[f] = None if failed else sum(key_medians(ops))
    own = {f"{f}_s": (v, "s") for f, v in fam.items()}
    ops = [o for o in ph["ops"] if o["family"] in CONTRACT_FAMILIES]
    failed = any(fam[f] is None for f in CONTRACT_FAMILIES)
    contract = null_if(failed, {"op_p50_s": (median(key_medians(ops)), "s"),
                                "cycle_s": (sum(key_medians(ops)), "s")})
    own["analytics_passes"] = (ph.get("passes"), "count")
    return contract, own


def analytics_layers(res, ref, out):
    rows = {}
    for o in view(res, True)["ops"]:
        if not o["ok"]:
            continue
        kids = {n.rsplit(".", 1)[1]: s for n, s in children(res, o["span"]).items()}
        work = [kids["plan"], kids["exec"]]
        rows.setdefault((o["family"], o["key"]), []).append(
            {"plan_s": dur_s(kids["plan"]), "exec_s": dur_s(kids["exec"]),
             "driver_gap_s": span_gap_ms(work)[0] / 1e3}
            | {m: sum_spans(work, m) for m in (
                "jobs", "tasks", "task_ms", "shuffle_bytes", "spill_bytes", "gc_ms",
                "codegen_compile_ms")})
    for fam in FAMILIES:
        recs = [v for (f, _), v in rows.items() if f == fam]
        for m in ("plan_s", "exec_s", "task_ms", "gc_ms", "driver_gap_s",
                  "codegen_compile_ms"):
            out[f"operators.{fam}.{m}"] = sum(median([r[m] for r in v]) for v in recs)
        # counts from each row's first traced run
        for m in ("jobs", "tasks", "shuffle_bytes", "spill_bytes"):
            out[f"operators.{fam}.{m}"] = sum(v[0][m] for v in recs)


# -- admission --------------------------------------------------------------


def admission_check(res, ref, notes, d):
    contract, msgs = check.admission_phase(res["measure"], ref["exact_dup_ids"])
    notes += msgs
    return contract


def input_bytes(ref, ph):
    return sum(ref["text_bytes"][:ph["increments"]])


def admission_metrics(res, ph, ref):
    ops = ph["ops"]
    lat = {k: [o["lat_s"] for o in ops if o["kind"] == k]
           for k in ("admit", "corpus", "compact")}
    t, pct = tail(lat["admit"])
    c = ADMIT_COMPACT_EVERY
    failed = bad(ops)
    contract = null_if(failed, {
        "op_p50_s": (median(lat["admit"]), "s"),
        "cycle_s": (c * median(lat["admit"]) + median(lat["compact"])
                    + (c + 1) * median(lat["corpus"]), "s")})
    own = null_if(failed, {
        "admit_p50_s": (median(lat["admit"]), "s"), "admit_tail_s": (t, "s"),
        "docs_per_s": (ph["increments"] * ADMIT_INC_SIZE / ph["wall_s"], "1/s"),
        "corpus_scan_s": (median(lat["corpus"]), "s")})
    own["admit_tail_percentile"] = (pct, "%")
    own["admit_samples"] = (len(lat["admit"]), "count")
    own["stored_bytes_per_input_byte"] = (ph["state_bytes"] / input_bytes(ref, ph), "B/B")
    return contract, own


def admission_layers(res, ref, out):
    ph = view(res, True)
    span = {s["id"]: s for s in res["spans"]}
    admit_ops = [o for o in ph["ops"] if o["kind"] == "admit"]
    admits = [span[o["span"]] for o in admit_ops if o["ok"]]
    compacts = [span[o["span"]] for o in ph["ops"] if o["kind"] == "compact" and o["ok"]]
    in_bytes = input_bytes(ref, ph)
    out["pipeline.admit_s"] = median([dur_s(s) for s in admits])
    out["pipeline.admit_jobs"] = median([s["jobs"] for s in admits])
    out["pipeline.admit_driver_gap_share"] = median(
        [gap / wall for gap, wall in (span_gap_ms([s]) for s in admits)])
    out["pipeline.admit_task_ms"] = median([s["task_ms"] for s in admits])
    out["pipeline.compact_s"] = median([dur_s(s) for s in compacts])
    out["pipeline.compact_bytes_rewritten"] = sum_spans(compacts, "output_bytes") / in_bytes
    out["pipeline.bytes_written_per_input_byte"] = \
        sum_spans(admits + compacts, "output_bytes") / in_bytes
    out["pipeline.state_files"] = ph["state_files"]
    out["pipeline.admitted_share"] = sum(len(o.get("admitted_ids", [])) for o in admit_ops) \
        / (len(admit_ops) * ADMIT_INC_SIZE)


WORKLOADS = {
    "costar": (setup_costar, costar_check, costar_metrics, costar_layers),
    "analytics": (setup_analytics, analytics_check, analytics_metrics, analytics_layers),
    "admission": (setup_admission, admission_check, admission_metrics, admission_layers),
}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def java(jar, archive_flag, args, d, timeout_s):
    """Run the client JVM in `d`, logging to d/jvm.log; returns its
    launch time."""
    global _child
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={d}/tmp", archive_flag]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([jar, os.path.join(build.spark_jars(), "*")]),
              "graftbench.Client"] + args)
    os.makedirs(os.path.join(d, "tmp"), exist_ok=True)
    with open(os.path.join(d, "jvm.log"), "w") as log:
        t0 = time.time()
        _child = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  cwd=d, start_new_session=True)
        try:
            rc = _child.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"client JVM exceeded {timeout_s:.0f} s")
        finally:
            _stop_child()
    if rc != 0:
        with open(os.path.join(d, "jvm.log")) as f:
            tail_log = f.read()[-3000:]
        raise RuntimeError(f"client JVM exited {rc}:\n{tail_log}")
    return t0


def class_archive(jar):
    """The JVM class-data sharing archive beside the jar. One JVM per
    build sets up and warms every workload on seed-0 inputs and writes it
    at exit; every run then maps it instead of loading and verifying the
    same classes again, which takes seconds off each run's set-up."""
    archive = os.path.join(os.path.dirname(jar), "classes.jsa")
    if os.path.exists(archive):
        return archive
    d = os.path.join(os.path.dirname(jar), f"train.{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    specs = []
    for w, (setup, *_) in WORKLOADS.items():
        wd = os.path.join(d, w)
        os.makedirs(wd)
        body = setup(0, wd)[0] | {"ingest_repeats": 1, "warm_repeats": 1}
        specs.append({"workload": w, "seed": 0, "out": wd, w: body})
    spec = os.path.join(d, "train.json")
    with open(spec, "w") as f:
        json.dump({"train": specs, "cores": CORES, "out": d}, f)
    fresh = f"{archive}.{os.getpid()}"
    java(jar, f"-XX:ArchiveClassesAtExit={fresh}", [spec], d, 600)
    os.replace(fresh, archive)
    shutil.rmtree(d, ignore_errors=True)
    return archive


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _on_signal)
    setup, check_answers, metrics, layers_of = WORKLOADS[a.workload]

    jar = build.build()
    archive = class_archive(jar)
    start = time.time()
    d = os.path.join(build.build_dir(), "runs",
                     f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    spec_body, ref, inputs = setup(a.seed, d)
    spec = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cores": CORES, "out": d, a.workload: spec_body}
    spec_path, result_path = os.path.join(d, "spec.json"), os.path.join(d, "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    launched = java(jar, f"-XX:SharedArchiveFile={archive}", [spec_path, result_path],
                    d, RUN_LIMIT_S - (time.time() - start))
    with open(result_path) as f:
        res = json.load(f)

    notes = []
    setup_ok = check_answers(res, ref, notes, d)
    ops = res["warm"] + res["measure"]["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"] or o.get("wrong"))
    wrong = sum(1 for o in ops if o.get("wrong")) + (not setup_ok)
    errors = sorted({o["err"] for o in ops if not o["ok"]})

    session_s = res["session_ready_epoch_ms"] / 1e3 - launched
    setup_s = session_s + median(res["prep_s"]) + res["warm_s"]
    contract, own = metrics(res, view(res, False), ref)
    if not setup_ok:
        contract = {k: (None, u) for k, (v, u) in contract.items()}
    contract["setup_s"] = (setup_s, "s")
    own = {"setup_s": (setup_s, "s"), "failed_share": (failed / attempted, "share"),
           **own}

    layers = {}
    if a.trace:
        layers = {name: 0 for name, _ in PER_LAYER}
        layers_of(res, ref, layers)
        m = res["measure"]
        layers["spark.gc_ms"] = m["gc_ms"] / m["wall_s"]
        layers["spark.codegen_compile_ms"] = m["codegen_compile_ms"] / m["wall_s"]
        traced_cycle = metrics(res, view(res, True), ref)[0]["cycle_s"][0]
        untraced_cycle = contract["cycle_s"][0]
        layers["trace_overhead"] = (traced_cycle / untraced_cycle - 1
                                    if traced_cycle and untraced_cycle else None)

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "cores": CORES, "inputs": inputs,
        "setup": {"session_s": session_s, "prep_s": res["prep_s"],
                  "warm_s": res["warm_s"]},
        "attempted": attempted, "failed": failed, "wrong": wrong,
        "errors": errors, "notes": notes,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in own.items()},
        "contract": {k: {"value": v, "unit": u} for k, (v, u) in contract.items()},
        "per_layer": layers,
        "measure": {k: v for k, v in res["measure"].items()
                    if k not in ("corpus_ids", "oneshot_ids")},
        "warm": res["warm"]}
    with open(os.path.join(d, "artifact.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    with open(os.path.join(d, "spans.json"), "w") as f:
        json.dump(res["spans"], f)
    os.remove(result_path)
    for sub in ("in", "results", "state", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(os.path.join(d, sub), ignore_errors=True)

    for k, (v, u) in own.items():
        print(f"{a.workload:10s} {k:32s} {'null' if v is None else f'{v:.6g}':>14s} {u}")
    for e in errors:
        print(f"{a.workload:10s} error: {e}")
    for n in notes:
        print(f"{a.workload:10s} note: {n}")
    print(f"{a.workload:10s} artifact: {os.path.relpath(d)}/artifact.json")
    if a.trace:
        out = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
    else:
        out = {k: {"value": contract[k][0], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": wrong == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    finally:
        _stop_child()
