#!/usr/bin/env python3
"""Benchmark launcher: build, generate seeded inputs, run one workload in
one JVM as a closed loop with one client, check the outputs, print
metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke        # every workload once, tiny, traced

Run from the root of a checkout. The first run builds the program and the
harness with sbt (offline) and caches the classpath under
$CARGO_TARGET_DIR (default .bench_build); later runs start the JVM
directly. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (see BENCHMARK.json).

JVM sizing follows the test suite's recipe: cores from SPARK_GRAFT_CPUS
(default: the CPUs this process may run on), heap from SPARK_DRIVER_MEM
(default MemTotal/2 clamped to 2-8 g). A call that throws or overruns its
deadline counts as failed; a JVM that outlives the whole-run watchdog is
killed and every call it did not finish counts as failed.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

RUN_LIMIT_S = 165.0     # whole-run watchdog, build excluded
CALL_DEADLINE_S = 60.0  # per blocking call
SETUP_REPEATS = 3

# TA's small-serve floor for the scaled JVM (the program's own
# graft.ta.serveFloorPostings override): single queries stay under it and
# the batch goes over it, so both serve regimes run at this corpus size.
TA_FLOOR = 1 << 15

# Each workload: the JVM workload it runs and its sizes at full and smoke
# scale (the generators take their share of these).
WORKLOADS = {
    "registry_sf001": {
        "jvm": "registry",
        "full": {"scale": 1.0, "warm_calls": 1},
        "smoke": {"scale": 0.1, "warm_calls": 1},
    },
    "scaled": {
        "jvm": "scaled",
        "full": {"vec_rows": 2000, "serve_queries": 8, "batch_queries": 256,
                 "exact_queries": 32, "ingest_rows": 200, "nlist": 32, "nprobe": 3,
                 "vec_rounds": 1, "doc_rows": 3000, "single_queries": 8, "batch_terms": 4,
                 "min_batch_postings": 4 * TA_FLOOR, "doc_rounds": 2},
        "smoke": {"vec_rows": 1000, "serve_queries": 8, "batch_queries": 32,
                  "exact_queries": 8, "ingest_rows": 100, "nlist": 16, "nprobe": 2,
                  "vec_rounds": 1, "doc_rows": 1000, "single_queries": 2, "batch_terms": 4,
                  "min_batch_postings": 2 * TA_FLOOR, "doc_rounds": 2},
    },
}

ANN = [("ivf", "IvfIndex."), ("spann", "IvfIndex.spann_"), ("ivfpq", "IvfPqIndex."),
       ("hnsw", "HnswIndex."), ("vamana", "VamanaIndex.")]
SECTIONS = ["vector_search_core", "ivf_pq_ann", "sharding", "scalar_functions",
            "cache_semantics", "ops_analytics", "vector_stats", "cosine_similarity",
            "text_ops", "relational"]
SPARK_LAYERS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_s",
                "spark.task_run_s", "spark.slot_busy_frac", "spark.scan_bytes",
                "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                "spark.spill_bytes", "spark.gc_s", "spark.driver_only_s",
                "catalyst.analysis_s", "catalyst.optimization_s",
                "catalyst.planning_s", "codegen.compile_s", "trace.unattributed_jobs"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def build_dir():
    d = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(d, exist_ok=True)
    return d


def source_key():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("no program sources next to the benchmark; nothing to build")
        sys.exit(2)
    cp_file = os.path.join(build_dir(), f"classpath-{source_key()}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    log_path = os.path.join(build_dir(), "build.log")
    with open(log_path, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                 "export Runtime/fullClasspath"], cwd=HERE, env=env,
                                stdout=out, stderr=subprocess.STDOUT, timeout=840).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    lines = open(log_path).read().splitlines()
    cp = [ln for ln in lines if "scala-library" in ln and not ln.startswith("[")]
    if rc != 0 or not cp:
        log(f"build failed (rc={rc}); see {log_path}")
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        sys.exit(2)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    log(f"built in {time.time() - t0:.1f}s")
    return cp[-1].strip()


# ------------------------------------------------------------------ inputs

def generate(workload, sizes, seed, out):
    if workload == "registry_sf001":
        info = gen.gen_registry(out, seed, sizes["scale"])
    else:
        info = {**gen.gen_vectors(out, seed, sizes["vec_rows"], sizes["batch_queries"],
                                  sizes["ingest_rows"]),
                **gen.gen_docs(out, seed, sizes["doc_rows"], sizes["single_queries"],
                               sizes["batch_terms"], sizes["min_batch_postings"])}
    with open(os.path.join(out, "params.properties"), "w") as f:
        for k, v in {**sizes, **info}.items():
            f.write(f"{k}={v}\n")
    return info


# ------------------------------------------------------------------ JVM

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def machine():
    nproc = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for ln in f:
            if ln.startswith("MemTotal:"):
                mem_kb = int(ln.split()[1])
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or nproc)
    heap = os.environ.get("SPARK_DRIVER_MEM") or f"{min(8, max(2, mem_kb // 2097152))}g"
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024, "cores": cores, "heap": heap}


def run_jvm(cp, jvm_workload, data, out, trace, mach, deadline_s):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    props = [f"-Dgraft.ta.serveFloorPostings={TA_FLOOR}"] if jvm_workload == "scaled" else []
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{mach['heap']}", f"-Xmx{mach['heap']}", "-XX:+ExitOnOutOfMemoryError",
            f"-Djava.io.tmpdir={tmp}"] + props + ["-cp", cp, "perfbench.Main", jvm_workload, data, out,
            str(trace), str(mach["cores"]), str(CALL_DEADLINE_S)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "local"))
    with open(os.path.join(out, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        rc = None
        try:
            rc = proc.wait(timeout=max(5.0, deadline_s))
        except subprocess.TimeoutExpired:
            log("whole-run watchdog fired; killing the JVM")
        finally:  # also when this launcher is interrupted or terminated
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return rc


def read_events(out):
    path = os.path.join(out, "events.jsonl")
    evs = []
    if os.path.exists(path):
        for ln in open(path):
            try:
                evs.append(json.loads(ln))
            except ValueError:
                pass  # a line cut by a kill
    return evs


# ------------------------------------------------------------------ checks

def check_registry(data, out):
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in os.listdir(data):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data}/{f}')")
    problems, matched, total = [], 0, 0
    oracle = os.path.join(out, "registry", "oracle.tsv")
    for ln in (open(oracle).read().splitlines() if os.path.exists(oracle) else []):
        name, sql = ln.split("\t", 1)
        exp = con.execute(sql).df()
        total += len(exp)
        qdir = os.path.join(out, "registry", name)
        parts = sorted(p for p in os.listdir(qdir) if p.endswith(".parquet")) \
            if os.path.isdir(qdir) else []
        if not parts:
            problems.append(f"{name}: no output")
            continue
        got = pd.concat([pd.read_parquet(os.path.join(qdir, p)) for p in parts])
        cols = sorted(got.columns)
        if cols != sorted(exp.columns) or len(got) != len(exp):
            problems.append(f"{name}: shape {cols}/{len(got)} vs {sorted(exp.columns)}/{len(exp)}")
            continue
        got, exp = got[cols].reset_index(drop=True), exp[cols].reset_index(drop=True)
        row_ok = np.ones(len(got), dtype=bool)
        for c in cols:
            g, e = got[c], exp[c]
            if g.dtype.kind == "f" or e.dtype.kind == "f":
                ga, ea = g.to_numpy(dtype=float), e.to_numpy(dtype=float)
                row_ok &= (ga == ea) | (np.isnan(ga) & np.isnan(ea))
            else:
                row_ok &= ((g.isna() & e.isna()) | (g.astype(str) == e.astype(str))).to_numpy()
        matched += int(row_ok.sum())
        if not row_ok.all():
            problems.append(f"{name}: {int((~row_ok).sum())} rows differ from the oracle")
    if total == 0:
        problems.append("no oracle results")
    return problems, (matched / total if total else 0.0)


def read_tsv(path):
    rows = [ln.split("\t") for ln in open(path).read().splitlines()] if os.path.exists(path) else []
    return [(int(q), int(v), float(d)) for q, v, d in rows]


def ranked(rows):
    out = {}
    for q, v, d in sorted(rows, key=lambda r: (r[0], r[2], r[1])):
        out.setdefault(q, []).append(v)
    return out


def check_vectors(data, out, seed):
    problems, recall = [], {}
    truth = pq.read_table(os.path.join(data, "truth.parquet")).to_pandas()
    gt = truth.groupby("query_id")["vec_id"].apply(list).to_dict()
    for fam, _ in ANN:
        got = ranked(read_tsv(os.path.join(out, f"batch_{fam}.tsv")))
        if not got:
            problems.append(f"{fam}: no batch output")
            continue
        hits = sum(len(set(got.get(q, [])) & set(ids)) for q, ids in gt.items())
        recall[fam] = hits / (10 * len(gt))
    # exact serve rows vs a numpy brute force on sampled queries
    exact = read_tsv(os.path.join(out, "batch_exact.tsv"))
    if not exact:
        problems.append("exact: no batch output")
    else:
        emb = pq.read_table(os.path.join(data, "embeddings.parquet"))
        base = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
        ids = emb["vec_id"].to_numpy()
        qs = pq.read_table(os.path.join(data, "queries.parquet"))
        qv = np.stack(qs["qvec"].to_numpy(zero_copy_only=False))
        served = sorted({q for q, _, _ in exact})
        sample = np.random.default_rng(seed).choice(served, size=min(8, len(served)), replace=False)
        ref = gen.exact_topk(base, ids, qv[sample], 10)
        by_q = {}
        for q, v, d in exact:
            by_q.setdefault(q, {})[v] = d
        for qi, q in enumerate(sample):
            got = by_q.get(int(q), {})
            ref_d = ((base[ref[qi]].astype(np.float64) - qv[q].astype(np.float64)) ** 2).sum(1)
            kth = ref_d.max()
            # same ids, or a different id only where it ties the 10th distance
            extra = set(got) - set(ref[qi].tolist())
            if len(got) != 10 or any(abs(got[v] - kth) > 1e-4 * max(1.0, kth) for v in extra):
                problems.append(f"exact: query {q} differs from the brute-force top-10")
            for v, d in got.items():
                true_d = float(((base[ids == v][0].astype(np.float64) - qv[q]) ** 2).sum())
                if abs(d - true_d) > 1e-3 * max(1.0, true_d):
                    problems.append(f"exact: query {q} vec {v} distance {d} vs {true_d}")
                    break
    # recall of one seed must repeat exactly across runs
    store = os.path.join(build_dir(), "recall")
    os.makedirs(store, exist_ok=True)
    sizes = hashlib.sha256(open(os.path.join(data, "params.properties"), "rb").read()).hexdigest()
    path = os.path.join(store, f"{seed}-{sizes[:12]}.json")
    if os.path.exists(path) and len(recall) == len(ANN):
        before = json.load(open(path))
        if before != recall:
            problems.append(f"recall differs from an earlier run of seed {seed}: {before} vs {recall}")
    elif len(recall) == len(ANN):
        json.dump(recall, open(path, "w"))
    return problems, recall


def check_docs(data, out):
    problems = []
    dups_dir = os.path.join(out, "dedup_pairs")
    if not os.path.isdir(dups_dir):
        return ["dedup: no verified pairs"]
    pairs = pq.read_table(dups_dir, columns=["doc_a", "doc_b"]).to_pandas()
    have = set(zip(np.minimum(pairs.doc_a, pairs.doc_b).tolist(),
                   np.maximum(pairs.doc_a, pairs.doc_b).tolist()))
    clouds = pq.read_table(os.path.join(data, "clouds.parquet")).to_pandas()
    missing = 0
    for _, members in clouds[clouds.cloud >= 0].groupby("cloud")["doc_id"]:
        m = sorted(members.tolist())
        missing += sum((a, b) not in have for i, a in enumerate(m) for b in m[i + 1:])
    if missing:
        problems.append(f"dedup: {missing} within-cloud pairs missing")
    return problems


# ------------------------------------------------------------------ metrics

def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def summarize(workload, calls, facts, extra, sizes):
    """(end-to-end metrics, per-layer metrics, stamp)."""
    # a call kind is (phase, call, group); the serve that follows each
    # ingest is the same closed-loop serve as the serve phase's
    def phase(c):
        ingest_serve = c["phase"] == "ingest" and not c["name"].endswith("addToIndex")
        return "serve" if ingest_serve else c["phase"]
    serving = [c for c in calls if phase(c) == "serve"]
    kinds = {}
    for c in calls:
        kinds.setdefault((phase(c), c["name"], c["group"]), []).append(c["wall_s"])
    cold = {k: w[0] for k, w in kinds.items()}
    warm = {k: statistics.median(w[1:]) for k, w in kinds.items() if len(w) > 1}
    by = lambda **kw: [c for c in calls if all(c[k] == v for k, v in kw.items())]
    walls = lambda cs: [float(c["wall_s"]) for c in cs]
    # closed-loop serve latency: per call kind, the median of its warm
    # calls; across kinds, their geometric mean
    warm_serve = {k: w for k, w in warm.items()
                  if workload == "registry_sf001" or k[0] == "serve"}
    if workload == "registry_sf001":
        build_s = sum(max(0.0, cold[k] - warm[k]) for k in warm)
        batch_qps = len(warm) / sum(warm.values()) if warm else 0.0
        quality = extra.get("oracle_match", 0.0)
    else:
        build_s = math.fsum(walls(by(phase="build")))
        batch_qps = geomean([c["items"] / c["wall_s"] for c in by(phase="batch", ok=True)])
        quality = statistics.mean(extra["recall"].values()) if extra.get("recall") else 0.0
    e2e = {
        "setup_s": extra["setup_s"],
        "ok_frac": extra["ok_frac"],
        "heap_retained_mb": facts.get("heap_retained_mb", 0.0),
        "cold_s": math.fsum(cold.values()),
        "warm_s": math.fsum(warm.values()),
        "build_s": build_s,
        "serve_p50_ms": 1000 * geomean(warm_serve.values()),
        "batch_qps": batch_qps,
        "recall_at_10": quality,
    }
    layers = {k: facts.get(k, 0.0) for k in SPARK_LAYERS}
    for sec in SECTIONS:
        ks = [k for k in cold if k[2] == sec and workload == "registry_sf001"]
        layers[f"queries.{sec}.cold_s"] = math.fsum(cold[k] for k in ks)
        layers[f"queries.{sec}.warm_s"] = math.fsum(warm.get(k, 0.0) for k in ks)

    def p50_ms(cs):
        return 1000 * statistics.median(walls(cs)) if cs else 0.0

    def qps(cs):
        cs = [c for c in cs if c["ok"]]
        return sum(c["items"] for c in cs) / math.fsum(walls(cs)) if cs else 0.0

    recall = extra.get("recall", {})
    for fam, pre in ANN:
        layers[pre + "build_s"] = math.fsum(walls(by(phase="build", group=fam)))
        layers[pre + "index_bytes_per_input_byte"] = facts.get(f"{fam}.index_bytes_per_input_byte", 0.0)
        layers[pre + "serve_p50_ms"] = p50_ms([c for c in serving if c["group"] == fam])
        layers[pre + "batch_qps"] = qps(by(phase="batch", group=fam))
        layers[pre + "recall_at_10"] = recall.get(fam, 0.0)
        if fam in ("ivf", "hnsw", "vamana"):
            layers[pre + "add_rows_per_s"] = qps([c for c in by(phase="ingest", group=fam)
                                                  if c["name"].endswith("addToIndex")])
    layers["KnnSearch.serve_p50_ms"] = p50_ms([c for c in serving if c["group"] == "exact"])
    layers["KnnSearch.batch_qps"] = qps(by(phase="batch", group="exact"))
    layers["SparseTopK.build_s"] = math.fsum(walls(by(name="SparseTopK.writeIndex")))
    layers["SparseTopK.index_bytes_per_input_byte"] = facts.get("SparseTopK.index_bytes_per_input_byte", 0.0)
    layers["SparseTopK.serve_p50_ms"] = p50_ms(by(phase="serve", group="ta"))
    layers["SparseTopK.batch_qps"] = qps(by(phase="batch", group="ta"))
    layers["SparseTopK.postings_read_frac"] = facts.get("SparseTopK.postings_read_frac", 0.0)
    layers["Bm25.serve_p50_ms"] = p50_ms(by(phase="serve", group="bm25"))
    layers["Bm25.batch_qps"] = qps(by(phase="batch", group="bm25"))
    cand = walls(by(name="Dedup.minhashFastCandidatesScored"))
    ver = walls(by(name="Dedup.verifyScoredCandidates"))
    layers["Dedup.candidates_s"] = math.fsum(cand)
    layers["Dedup.verify_s"] = math.fsum(ver)
    layers["Dedup.candidate_pairs"] = facts.get("Dedup.candidate_pairs", 0.0)
    layers["Dedup.dup_pairs"] = facts.get("Dedup.dup_pairs", 0.0)
    layers["Dedup.verified_frac"] = (layers["Dedup.dup_pairs"] / layers["Dedup.candidate_pairs"]
                                     if layers["Dedup.candidate_pairs"] else 0.0)
    layers["Dedup.docs_per_s"] = (sizes.get("doc_rows", 0) / (sum(cand) + sum(ver))
                                  if cand and ver else 0.0)
    stamp = {"serve_kinds": len(warm_serve), "ext_cores": facts.get("ext_cores"), "steal_cores": facts.get("steal_cores"),
             "measured_s": facts.get("measured_s"), "workload_wall_s": facts.get("workload_wall_s")}
    return e2e, layers, stamp


# ------------------------------------------------------------------ run

def run(workload, seed, trace, smoke=False):
    """One run: (printed result, run stamp, end-to-end metrics, per-layer metrics)."""
    spec = WORKLOADS[workload]
    sizes = spec["smoke" if smoke else "full"]
    cp = build()
    t_start = time.time()
    mach = machine()
    run_dir = os.path.join(build_dir(), "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    # set-up: generate the seeded inputs several times, keep the first copy
    gen_s = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        info = generate(workload, sizes, seed, os.path.join(run_dir, f"data{i}"))
        gen_s.append(time.perf_counter() - t0)
    for i in range(1, SETUP_REPEATS):
        shutil.rmtree(os.path.join(run_dir, f"data{i}"))
    data, out = os.path.join(run_dir, "data0"), os.path.join(run_dir, "out")
    os.makedirs(out)
    t_jvm = time.time()
    rc = run_jvm(cp, spec["jvm"], data, out, trace, mach,
                 RUN_LIMIT_S - (time.time() - t_start))
    t_exit = time.time()
    evs = read_events(out)
    calls = [e for e in evs if e.get("ev") == "call"]
    facts = {e["name"]: e["value"] for e in evs if e.get("ev") == "fact" and e["value"] is not None}
    problems = [f"{e['name']}: {e['detail']}" for e in evs if e.get("ev") == "check" and not e["ok"]]
    problems += [f"harness error: {e['err']}" for e in evs if e.get("ev") == "error"]
    if not any(e.get("ev") == "done" for e in evs):
        problems.append(f"JVM did not finish (exit {rc}); its log is kept under {build_dir()}/last")
    planned = max(1, sum(e["calls"] for e in evs if e.get("ev") == "plan"))
    attempted = max(planned, len(calls))
    failed = attempted - sum(1 for c in calls if c["ok"])
    failures = sorted({f"{c['name']}: {c['err']}" for c in calls if not c["ok"]})
    setup_jvm = [e["wall_s"] for e in evs if e.get("ev") == "setup"]
    extra = {"ok_frac": (attempted - failed) / attempted,
             "setup_s": statistics.median(gen_s) + (statistics.median(setup_jvm) if setup_jvm else 0.0)}
    try:
        if workload == "registry_sf001":
            p, extra["oracle_match"] = check_registry(data, out)
        else:
            p, extra["recall"] = check_vectors(data, out, seed)
            p += check_docs(data, out)
            if info["single_postings_max"] >= TA_FLOOR or info["batch_postings"] <= TA_FLOOR:
                p.append("the lexical queries do not straddle the TA serve floor")
        problems += p
    except Exception as e:  # a missing or malformed output is a failed check
        problems.append(f"output check raised {type(e).__name__}: {e}")
    e2e, layers, stamp = summarize(workload, calls, facts, extra, {**sizes, **info})
    marks = {e["name"]: e["t"] / 1000 for e in evs if e.get("ev") == "mark"}
    stamp["timeline_s"] = {"gen": t_jvm - t_start, **{k: v - t_jvm for k, v in marks.items()},
                           "jvm_exit": t_exit - t_jvm, "checked": time.time() - t_jvm}
    stamp.update(mach, workload=workload, seed=seed, trace=trace, attempted=attempted,
                 failed=failed, failed_frac=failed / attempted, problems=problems,
                 failures=failures, inputs=info, setup_gen_s=gen_s, setup_jvm_s=setup_jvm)
    last = os.path.join(build_dir(), "last")
    os.makedirs(last, exist_ok=True)
    base = os.path.join(last, f"{workload}-{seed}-{'smoke' if smoke else 'full'}-e2e.json")
    if trace:
        if os.path.exists(base):
            before = json.load(open(base))
            stamp["tracing_overhead"] = {k: e2e[k] - before[k] for k in e2e if k in before}
    else:
        json.dump(e2e, open(base, "w"))
    for f in ("events.jsonl", "spans.jsonl", "jvm.log"):
        if os.path.exists(os.path.join(out, f)):
            shutil.copy(os.path.join(out, f), os.path.join(last, f"{workload}-{seed}-t{trace}-{f}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    metrics = layers if trace else e2e
    units = UNITS_TRACE if trace else UNITS
    result = {"correct": not problems, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    return result, stamp, e2e, layers


def _units():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


UNITS, UNITS_TRACE = _units()


def smoke():
    """Every workload once, traced, at tiny sizes; fails unless each run is
    correct, fails no call and computes every metric BENCHMARK.json names."""
    ok = True
    for w in WORKLOADS:
        res, stamp, e2e, layers = run(w, 1, 1, smoke=True)
        good = (res["correct"] and res["failed"] == 0 and set(e2e) == set(UNITS)
                and set(layers) == set(UNITS_TRACE))
        ok &= good
        print(f"{'PASS' if good else 'FAIL'} {w}: problems={stamp['problems']} "
              f"failures={stamp['failures']} wall={stamp['timeline_s']['checked']:.1f}s")
    return ok


def main():
    # SIGTERM unwinds like Ctrl-C, so the JVM is killed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    # accepted for the common benchmark interface; a run measures a fixed
    # amount of work, sized so that it takes about BENCHMARK.json's run_seconds
    ap.add_argument("--seconds", type=float, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        sys.exit(0 if smoke() else 1)
    if not a.workload:
        ap.error("--workload is required")
    result, stamp, _, _ = run(a.workload, a.seed, a.trace)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
