#!/usr/bin/env python3
"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload {migrate,corpus,lakehouse} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. It builds the engine and the benchmark's JVM
code (`perfbench/build.py`), generates the workload's inputs from the seed
(`perfbench/gen.py`), runs the workload as a single-client closed loop in
one JVM (`local[N]`, N = min(4, cores)) for S seconds, checks every output
against DuckDB (`perfbench/oracle.py`), prints a readable report, and ends
with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end set of BENCHMARK.json; with
`--trace 1` the run instead traces one iteration of every workload, one
after the other in one JVM, and the metrics are the per-layer set. The exit
code is 0 only when every output is correct. All state lives under
`perfbench/.runs/` and is removed at exit, except the spans of the last
traced run (`perfbench/.runs/last-trace.json`).

`--trace 1 --only` traces the `--workload` alone, in a JVM of its own: its
traced iteration then sits where the untraced run's measured iteration
sits, so the two `wall_s` give the tracing overhead (see `overhead.py`).

`--perturb {drop,change}` damages the first output after the run (one row
dropped, or one value changed) to prove the checks catch it; such a run must
exit non-zero.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ["migrate", "corpus", "lakehouse"]
# Set-up repetitions per run: inputs are generated this many times and the
# median is reported. The lakehouse landing (about a quarter of a run) is
# done once, in traced runs too, so both measure the same table.
SETUP_REPS = 3
LAND_REPS = 1
DEADLINE_S = 170
TRACE_FILE = os.path.join(HERE, ".runs", "last-trace.json")
ITEMS = {"migrate": ("landed_rows_per_s", "landed rows"),
         "corpus": ("docs_per_s", "input documents"),
         "lakehouse": ("ops_per_s", "SQL statements")}

# ----------------------------------------------------------- per-layer set

# (workload, span) pairs carrying engine counters, in report order
SPANS = [
    ("migrate", "migration.surrogate"), ("migrate", "migration.derive"),
    ("migrate", "sources.jdbc_append"), ("migrate", "migrate.verify"),
    ("corpus", "textops.filter"), ("corpus", "dedup.exact"),
    ("corpus", "dedup.minhash"), ("corpus", "dedup.components"),
    ("corpus", "textops.split"), ("corpus", "textops.decontam"),
    ("corpus", "textops.pack"), ("corpus", "textops.pipeline"),
    ("corpus", "dedup.embed_components"),
    ("lakehouse", "tableformat.insert"), ("lakehouse", "tableformat.merge"),
    ("lakehouse", "tableformat.update"), ("lakehouse", "tableformat.delete"),
    ("lakehouse", "tableformat.optimize"), ("lakehouse", "tableformat.vacuum"),
    ("lakehouse", "matview.refresh"), ("lakehouse", "read.point"),
    ("lakehouse", "read.range"), ("lakehouse", "read.count"),
    ("lakehouse", "read.groupby"), ("lakehouse", "read.timetravel"),
    ("lakehouse", "read.mvread"),
]
# metadata-only spans (no jobs and no executor CPU by design; the count
# span's job count is `manifest.count_jobs`)
NO_ENGINE = {"tableformat.vacuum", "read.count"}
SHUFFLE = {"migration.surrogate", "migration.derive", "sources.jdbc_append",
           "textops.filter", "dedup.exact", "dedup.minhash",
           "dedup.components", "textops.split", "textops.decontam",
           "textops.pack", "textops.pipeline", "dedup.embed_components",
           "tableformat.merge", "tableformat.update", "tableformat.delete",
           "tableformat.optimize", "matview.refresh", "read.groupby"}
SKEW = {"dedup.minhash", "dedup.components", "dedup.embed_components",
        "textops.pipeline"}
TOTALS = [("tasks", "count"), ("scheduler_delay_ms", "ms"),
          ("spill_bytes", "bytes"), ("gc_ms", "ms")]

NAMED = {  # metric -> (workload, unit)
    "migration.surrogate_ms": ("migrate", "ms"),
    "migration.derive_ms": ("migrate", "ms"),
    "sources.jdbc_append_ms": ("migrate", "ms"),
    "sources.jdbc_rows_per_s": ("migrate", "1/s"),
    "migrate.verify_ms": ("migrate", "ms"),
    "migrate.spark_jobs": ("migrate", "count"),
    "textops.filter_ms": ("corpus", "ms"),
    "dedup.exact_ms": ("corpus", "ms"),
    "dedup.minhash_ms": ("corpus", "ms"),
    "dedup.components_ms": ("corpus", "ms"),
    "textops.split_ms": ("corpus", "ms"),
    "textops.decontam_ms": ("corpus", "ms"),
    "textops.pack_ms": ("corpus", "ms"),
    "textops.pipeline_ms": ("corpus", "ms"),
    "dedup.embed_components_ms": ("corpus", "ms"),
    "dedup.lsh_candidate_pairs": ("corpus", "count"),
    "dedup.lsh_pair_yield": ("corpus", "ratio"),
    "dedup.max_component_docs": ("corpus", "count"),
    "dedup.embed_shuffle_bytes": ("corpus", "bytes"),
    "caches.persisted_bytes_peak": ("corpus", "bytes"),
    "tableformat.insert_ms": ("lakehouse", "ms"),
    "tableformat.merge_ms": ("lakehouse", "ms"),
    "tableformat.update_ms": ("lakehouse", "ms"),
    "tableformat.delete_ms": ("lakehouse", "ms"),
    "tableformat.optimize_ms": ("lakehouse", "ms"),
    "tableformat.vacuum_ms": ("lakehouse", "ms"),
    "matview.refresh_ms": ("lakehouse", "ms"),
    "tableformat.bytes_rewritten_per_changed_byte": ("lakehouse", "ratio"),
    "tableformat.files_live": ("lakehouse", "count"),
    "tableformat.files_total": ("lakehouse", "count"),
    "sql.plan_ms": ("lakehouse", "ms"),
    "manifest.files_read_per_point_read": ("lakehouse", "count"),
    "manifest.rows_scanned_per_row_returned": ("lakehouse", "ratio"),
    "manifest.count_jobs": ("lakehouse", "count"),
}


def per_layer_spec():
    """[(name, unit)] of every per-layer metric, in report order."""
    spec = [(n, u) for n, (_, u) in NAMED.items()]
    spec += [(f"{w}.traced_wall_s", "s") for w in WORKLOADS]
    spec += [(f"{w}.peak_heap_mb", "MB") for w in WORKLOADS]
    spec += [("lakehouse.commit_p50_ms", "ms"),
             ("lakehouse.commit_tail_ms", "ms"),
             ("lakehouse.read_p50_ms", "ms"), ("lakehouse.read_tail_ms", "ms"),
             ("lakehouse.bytes_per_user_byte", "ratio")]
    for _, s in SPANS:
        if s in NO_ENGINE:
            continue
        spec.append((f"{s}.jobs", "count"))
        spec.append((f"{s}.cpu_ms", "ms"))
        if s in SHUFFLE:
            spec.append((f"{s}.shuffle_write_bytes", "bytes"))
        if s in SKEW:
            spec.append((f"{s}.task_skew", "ratio"))
    spec += [(f"{w}.spark.{c}", u) for w in WORKLOADS for c, u in TOTALS]
    return spec


END_TO_END = [("setup_s", "s"), ("wall_s", "s")]


# ------------------------------------------------------------------ helpers

def log(msg):
    print(msg, flush=True)


def jvm_cmd(classpath, work, args, flags):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xmx2g", *flags, f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "graft.perfbench.Main",
                  "--work", work] + args


def run_jvm(cmd, deadline):
    """Run the JVM in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError("JVM timed out")
    if p.returncode != 0:
        sys.stderr.write(out[-3000:])
        raise RuntimeError(f"JVM exited with {p.returncode}")
    return out


def perturb(res, how):
    """Damage the first output of a workload: drop its middle row, or
    change one value of that row."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    outs = res["outputs"]
    path = outs.get("q_migrate_bundle") or outs.get("q_corpus_pipeline") \
        or outs.get("table")
    t = pq.read_table(path)
    mid = t.num_rows // 2
    if how == "drop":
        t = pa.concat_tables([t.slice(0, mid), t.slice(mid + 1)])
    else:
        name = t.column_names[-1]
        vals = t.column(name).to_pylist()
        v = vals[mid]
        vals[mid] = v + "x" if isinstance(v, str) else (v or 0) + 1
        t = t.set_column(len(t.column_names) - 1, name,
                         pa.array(vals, t.schema.field(name).type))
    for f in os.listdir(path):
        os.remove(os.path.join(path, f))
    pq.write_table(t, os.path.join(path, "part-0.parquet"))


# -------------------------------------------------------------------- main

def generate(workload, seed, out, reps):
    """Generate `reps` times; the digests must agree (determinism)."""
    import gen
    times, digests = [], set()
    for _ in range(reps):
        t = time.time()
        d, sizes = gen.generate(workload, seed, out)
        times.append(time.time() - t)
        digests.add(d)
    return times, digests, sizes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--perturb", choices=["drop", "change"])
    ap.add_argument("--only", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.stderr.write("perfbench: no engine sources under src/main/scala; "
                         "run from the repository root\n")
        return 2
    import build
    import oracle
    classpath = build.build()
    # the time limit starts after the build: only a fresh checkout compiles
    deadline = time.time() + DEADLINE_S

    work = os.path.join(HERE, ".runs",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return measure(a, work, classpath, oracle, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, work, classpath, oracle, deadline):
    import build
    names = WORKLOADS if a.trace and not a.only else [a.workload]
    gen_s, sizes, bad_digest = {}, {}, []
    for w in names:
        # set-up time is reported by untraced runs only
        times, digests, sizes[w] = generate(
            w, a.seed, os.path.join(work, "in", w), 2 if a.trace else SETUP_REPS)
        gen_s[w] = statistics.median(times)
        if len(digests) != 1:
            bad_digest.append(w)
    oracle.TEMP_DIR = os.path.join(work, "tmp")
    result_path = os.path.join(work, "result.json")
    args = ["--mode", "trace" if a.trace else "run",
            "--workload", ",".join(names),
            "--inputs", os.path.join(work, "in"),
            "--seconds", str(a.seconds), "--reps", str(LAND_REPS),
            "--out", result_path]
    flags, cds_tmp = build.cds_flags()
    t = time.time()
    ok = False
    try:
        run_jvm(jvm_cmd(classpath, os.path.join(work, "jvm"), args, flags),
                deadline)
        ok = True
    finally:
        build.cds_keep(cds_tmp, ok)
    jvm_s = time.time() - t
    res = json.load(open(result_path))
    attempted, failed = res["attempted"], res["failed"]
    errors = list(res["errors"])
    for w in bad_digest:
        attempted += 1
        failed += 1
        errors.append(f"{w}: same seed gave different input digests")
    for w in names:
        r = res["workloads"][w]
        if a.perturb and r.get("outputs"):
            perturb(r, a.perturb)
        errs = oracle.check(w, os.path.join(work, "in", w), r)
        attempted += 1
        failed += 1 if errs else 0
        errors += errs
    correct = failed == 0

    log(f"perfbench {'trace' if a.trace else 'run'} workload={a.workload} "
        f"seed={a.seed} seconds={a.seconds}")
    for w in names:
        log(f"  inputs[{w}]: {json.dumps(sizes[w], sort_keys=True)}")
    log(f"  jvm: {jvm_s:.1f} s")
    for e in errors[:20]:
        log(f"  FAIL {e}")
    if a.trace:
        metrics = layer_metrics(res, names)
        # the spans outlive the run directory: kept for reading after the run
        with open(TRACE_FILE, "w") as f:
            json.dump({w: {k: res["workloads"][w].get(k) for k in
                           ("traced_s", "spans", "engine", "layers")}
                       for w in names}, f)
        log(f"  spans written to {os.path.relpath(TRACE_FILE, ROOT)}")
    else:
        metrics = run_metrics(a.workload, res["workloads"][a.workload],
                              gen_s[a.workload], attempted, failed)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


def run_metrics(w, r, gen_s, attempted, failed):
    iters = r["iterations"]
    secs = [i["s"] for i in iters]
    items = sum(i["items"] for i in iters)
    setup = (gen_s + r["session_s"] + statistics.median(r["land_reps_s"])
             + r["warmup_s"])
    m = {"setup_s": setup, "wall_s": statistics.median(secs)}
    units = dict(END_TO_END)
    # the readable report: every end-to-end figure that applies here
    rows = [(k, v, units[k]) for k, v in m.items()]
    rows.append((ITEMS[w][0], items / sum(secs), "1/s"))
    # peak heap spreads too much run to run for a bound (up to 0.19 on
    # lakehouse); it is reported here and as a per-layer metric
    rows.append(("peak_heap_mb", r["peak_heap_mb"], "MB"))
    if w == "lakehouse":
        for kind in ("commit", "read"):
            st = r["outputs"][kind]
            rows.append((f"{kind}_p50_ms", st["p50_ms"], "ms"))
            rows.append((f"{kind}_tail_ms", st["tail_ms"],
                         f"ms (max of {st['samples']})"))
        rows.append(("bytes_per_user_byte", r["outputs"]["bytes_per_user_byte"],
                     "ratio"))
        for kind, ms in sorted(r["outputs"]["statement_ms"].items()):
            rows.append((f"  {kind} median", ms, "ms"))
    rows.append(("error_rate", failed / attempted, "ratio"))
    rows += [("  generate median", gen_s, "s"),
             ("  session", r["session_s"], "s"),
             ("  landing median", statistics.median(r["land_reps_s"]), "s"),
             ("  warm-up", r["warmup_s"], "s")]
    log(f"  iterations={len(iters)} ({ITEMS[w][1]} per iteration: "
        f"{items / len(iters):.0f})")
    for k, v, u in rows:
        log(f"  {k:<22} {v:14.4f} {u}")
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}


def layer_metrics(res, names):
    vals = {}
    for w in names:
        r = res["workloads"][w]
        for k, v in r.get("layers", {}).items():
            if k in NAMED:
                vals[k] = v
        if "traced_s" in r:
            vals[f"{w}.traced_wall_s"] = r["traced_s"]
            vals[f"{w}.peak_heap_mb"] = r["peak_heap_mb"]
        eng = r.get("engine", {})
        for sw, s in SPANS:
            if sw == w and s in eng:
                for c in ("jobs", "cpu_ms", "shuffle_write_bytes",
                          "task_skew"):
                    vals[f"{s}.{c}"] = eng[s][c]
        for c, _ in TOTALS:
            vals[f"{w}.spark.{c}"] = sum(e[c] for e in eng.values())
    lh = res["workloads"].get("lakehouse", {}).get("outputs", {})
    if lh:
        for kind in ("commit", "read"):
            vals[f"lakehouse.{kind}_p50_ms"] = lh[kind]["p50_ms"]
            vals[f"lakehouse.{kind}_tail_ms"] = lh[kind]["tail_ms"]
        vals["lakehouse.bytes_per_user_byte"] = lh["bytes_per_user_byte"]
    metrics = {}
    for name, unit in per_layer_spec():
        v = vals.get(name)
        metrics[name] = {"value": v, "unit": unit}
        log(f"  {name:<48} {v if v is None else round(v, 4)!s:>16} {unit}")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
