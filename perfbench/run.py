#!/usr/bin/env python3
"""graft benchmark: builds the program from the checkout, runs one workload
in a fresh JVM, checks its outputs and prints its metrics.

    python3 perfbench/run.py --workload extract_fused --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload

Run it from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones. A
fuller record of each run goes to perfbench/results/. See
perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("extract_fused", "extract_checkpoint", "query_sweep")
THREADS = 4
# input docs per extract workload; the one-thread pass takes a quarter
DOCS = {"extract_fused": 32000, "extract_checkpoint": 32000}
# Six JIT compiler threads, not the three the JVM picks on four cores: with
# three, the compile queue lags the four busy task threads and pass times
# keep falling for ~300k docs after warm-up, which made the median of a
# run depend on where in that slope it fell.
JVM_FLAGS = ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-XX:CICompilerCount=6"]
# what the JVM must open for Spark 4 on JDK 17 outside spark-submit
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
DOC_TYPES = ("aadhaar_card", "pan_card", "driving_license", "passport",
             "marksheet", "voter_id", "unknown", "rejected")
REGISTRIES = ("SparkEntry", "PipelineOpsQueries", "RelationalQueries")
SQL_KEYS = ("jobs", "stages", "tasks", "exchanges", "shuffle_bytes",
            "spill_bytes", "planning_ms", "exec_ms")
RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def build_stamp(root):
    h = hashlib.sha256()
    trees = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        paths = [t] if os.path.isfile(t) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(t) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compiles the program and the benchmark's Scala side with sbt and archives
    the classes a run loads, once per source state; returns the runtime
    classpath."""
    out = os.path.join(HERE, ".build")
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    stamp = build_stamp(root)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in os.environ and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = open(log).read().strip().splitlines()
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}:\n" + "\n".join(lines[-20:]))
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    # class data sharing: a training pass records the classes the runs
    # load; every run then maps them from the archive instead of parsing
    # them out of the Spark jars, which takes ~10 s a run on a slow disk
    work = os.path.join(HERE, ".work", "train")
    shutil.rmtree(work, ignore_errors=True)
    print("perfbench: compiled; archiving classes", file=sys.stderr)
    java(root, cp, work, ["workload=train"],
         [f"-XX:ArchiveClassesAtExit={os.path.join(out, 'app.jsa')}"], 600)
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# -------------------------------------------------------------------- run

def java(root, cp, work, args, flags, limit):
    """Runs perfbench.Main in a fresh JVM; stops it at `limit` seconds."""
    with open(os.path.join(HERE, "queries.txt")) as f:
        queries = [q.strip() for q in f if q.strip() and not q.startswith("#")]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + JVM_FLAGS + flags
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp,
              "perfbench.Main", f"work={os.path.relpath(work, root)}",
              f"data={os.path.relpath(os.path.join(HERE, 'data', 'sf0.01'), root)}",
              f"queries={','.join(queries)}"] + args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=root, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"JVM ran over {limit}s, see {log}")
    if p.returncode != 0:
        tail = open(log, errors="replace").read().splitlines()[-30:]
        fail(f"JVM exited {p.returncode}:\n" + "\n".join(tail))


def run_jvm(root, cp, workload, seed, seconds, trace, work):
    raw_path = os.path.join(work, "raw.json")
    jsa = os.path.join(HERE, ".build", "app.jsa")
    java(root, cp, work,
         [f"workload={workload}", f"seed={seed}", f"seconds={seconds}",
          f"trace={trace}", f"docs={DOCS.get(workload, 0)}", f"out={raw_path}"],
         [f"-XX:SharedArchiveFile={jsa}"], RUN_LIMIT_S)
    with open(raw_path) as f:
        return json.load(f)


# ----------------------------------------------------------------- checks

def golden_checks(root, raw, inject):
    """Seed 42 at 2000 docs must match the committed reference fixtures."""
    import duckdb
    out = []
    for mode, name in (("plain", "golden_extract_2000"),
                       ("donut", "golden_extract_donut_2000")):
        path = os.path.join(root, "fixtures", f"{name}.parquet")
        cols = ", ".join(stats.GOLDEN_COLUMNS)
        rows = duckdb.sql(f"SELECT {cols} FROM read_parquet('{path}')").fetchall()
        want = stats.digest(rows)
        if inject:
            want += "-injected"
        got = raw["golden_digest"].get(mode)
        out.append((f"golden {mode} digest", got == want, f"{got} vs {want}"))
    return out


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_checks(root, raw, work):
    """Each query's result against its DuckDB oracle, as the repo's own
    tools/check_oracles.py compares them: same columns, rows and values,
    each value also rendered the same."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    tdir = os.path.join(root, raw["table_dir"])
    for p in sorted(glob.glob(os.path.join(tdir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = []
    queries = [q for q, _ in raw["p4"]["query_s"]]
    for q in sorted(set(queries)):
        sql = raw["oracle_sql"].get(q)
        files = glob.glob(os.path.join(work, "qout", q, "*.parquet"))
        if sql is None:
            out.append((f"oracle {q}", False, "no oracle SQL"))
            continue
        try:
            got = normalize(pd.concat([pd.read_parquet(f) for f in files]))
            want = normalize(con.execute(sql).df())
        except Exception as e:  # a missing result or a broken oracle fails
            out.append((f"oracle {q}", False, f"{type(e).__name__}: {e}"[:300]))
            continue
        ok = list(got.columns) == list(want.columns) and len(got) == len(want)
        if ok:
            for c in got.columns:
                for x, y in zip(got[c].tolist(), want[c].tolist()):
                    na = (not isinstance(x, (list, tuple)) and pd.isna(x)) and \
                         (not isinstance(y, (list, tuple)) and pd.isna(y))
                    if not (na or (x == y and str(x) == str(y))):
                        ok = False
                        break
                if not ok:
                    break
        out.append((f"oracle {q}", ok, f"{len(got)} rows"))
    return out


# ---------------------------------------------------------------- metrics

def per_query_medians(samples):
    by = {}
    for q, t in samples:
        by.setdefault(q, []).append(t)
    return {q: stats.median(ts) for q, ts in by.items()}


def op_seconds(phase, workload):
    """One operation's time: the median pass for the extract workloads; for
    query_sweep, a sweep as the sum of each query's median, which damps the
    second-scale speed swings of a shared host better than a median of few
    whole sweeps."""
    if workload == "query_sweep":
        return sum(per_query_medians(phase["query_s"]).values())
    return stats.median(phase["op_s"])


def end_to_end(raw, workload):
    p4 = raw["p4"]
    return {
        "setup_s": (raw["session_s"] + stats.median(raw["materialize_s"])
                    + raw["warmup_s"], "s"),
        "throughput_per_s": (p4["items_per_op"] / op_seconds(p4, workload), "1/s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }


def scaling(raw, workload):
    """One-thread throughput and scaling efficiency (traced runs only)."""
    p4, p1 = raw["p4"], raw.get("p1")
    if not p1 or not p1["op_s"]:
        return 0.0, 0.0
    rate4 = p4["items_per_op"] / op_seconds(p4, workload)
    rate1 = p1["items_per_op"] / op_seconds(p1, workload)
    return rate1, stats.scaling_eff(rate4, rate1, THREADS)


def per_layer(raw, workload):
    m = {}
    p4 = raw["p4"]
    ops = len(p4["op_s"])
    mt = p4["meters"]
    wall = sum(p4["op_s"])
    tr = raw.get("trace", {})
    c = tr.get("counters", {})
    docs = c.get("docs", 0)

    def per(x, n):
        return x / n if n else 0.0

    def us_doc(key):
        return per(c.get(key, 0) / 1000, docs)

    scan = tr.get("scan_meters", {})
    m["io.scan_us_per_doc"] = (per(scan.get("run_ms", 0) * 1000,
                                   scan.get("read_records", 0)), "us")
    m["html.strip_us_per_doc"] = (us_doc("strip_ns"), "us")
    m["kernel.ocr_decode_us_per_doc"] = (us_doc("decode_ns"), "us")
    m["classify.route_us_per_doc"] = (us_doc("route_ns"), "us")
    m["validate.us_per_doc"] = (us_doc("validate_ns"), "us")
    m["pipe.ocr_self_us_per_doc"] = (
        us_doc("ocr_ns") - us_doc("strip_ns") - us_doc("decode_ns"), "us")
    m["model.emit_self_us_per_doc"] = (
        us_doc("extract_ns") - us_doc("route_ns") - us_doc("donut_ns")
        - us_doc("validate_ns"), "us")
    m["html.text_spans"] = (c.get("text_spans", 0), "count")
    m["kernel.media_spans"] = (c.get("media_spans", 0), "count")
    m["kernel.ocr_keep_ratio"] = (per(c.get("ocr_kept", 0), c.get("ocr_lines", 0)), "ratio")
    m["kernel.ocr_retries"] = (c.get("ocr_retries", 0), "count")
    m["pipe.oversize_rejects"] = (c.get("oversize", 0), "count")
    for t in DOC_TYPES:
        m[f"classify.docs.{t}"] = (c.get(f"type.{t}", 0), "count")
    m["classify.docs.other"] = (sum(v for k, v in c.items() if k.startswith("type.")
                                    and k[5:] not in DOC_TYPES), "count")
    m["validate.invalid_frac"] = (per(c.get("invalid", 0), docs), "ratio")
    # the fused workload traces the Donut-on kernel in a pass of its own
    dc = raw.get("donut_counters", c)
    calls = dc.get("donut_calls", 0)
    m["kernel.donut_calls"] = (calls, "count")
    m["kernel.donut_us_per_call"] = (per(dc.get("donut_ns", 0) / 1000, calls), "us")
    m["kernel.donut_rescue_ratio"] = (per(dc.get("donut_rescued", 0), calls), "ratio")
    m["kernel.donut_fill_ratio"] = (per(dc.get("donut_filled", 0), calls), "ratio")

    # sink and checkpoint layer: the checkpoint runs of either extract workload
    ck = raw.get("ckpt")
    ck_ops = len(ck["op_s"]) if ck else 0
    rows = raw["input"].get("rows", 0)
    m["pipe.checkpoint_jobs"] = (per(ck["meters"]["jobs"], ck_ops) if ck else 0.0, "count")
    m["pipe.read_amplification"] = (
        per(per(ck["meters"]["scan_bytes"], ck_ops), raw["input"]["bytes"]) if ck else 0.0,
        "ratio")
    m["pipe.write_bytes_per_doc"] = (per(ck["write_bytes"], rows) if ck else 0.0, "B")
    m["pipe.checkpoint_docs_per_s"] = (
        per(rows, stats.median(ck["op_s"])) if ck_ops else 0.0, "1/s")
    m["io.scan_amplification"] = (per(per(mt["scan_bytes"], ops), raw["input"]["bytes"]), "ratio")
    m["spark.tasks"] = (per(mt["tasks"], ops), "count")
    m["spark.cpu_ms_per_item"] = (per(mt["cpu_ns"] / 1e6, ops * p4["items_per_op"]), "ms")
    m["spark.cpu_util"] = (per(mt["cpu_ns"] / 1e9, wall * THREADS), "ratio")
    m["spark.gc_share"] = (per(mt["gc_ms"], mt["run_ms"]), "ratio")
    m["spark.shuffle_bytes"] = (per(mt["shuffle_bytes"], ops), "B")
    m["spark.spill_bytes"] = (per(mt["spill_bytes"], ops), "B")

    sums = {r: dict.fromkeys(SQL_KEYS, 0.0) for r in REGISTRIES}
    for q in tr.get("queries", []):
        d, s = q["meters"], sums[q["registry"]]
        for k in ("jobs", "stages", "tasks", "exchanges", "shuffle_bytes", "spill_bytes"):
            s[k] += d[k]
        s["planning_ms"] += d["planning_ns"] / 1e6
        s["exec_ms"] += d["exec_ns"] / 1e6
    units = {"shuffle_bytes": "B", "spill_bytes": "B", "planning_ms": "ms",
             "exec_ms": "ms"}
    for r in REGISTRIES:
        for k in SQL_KEYS:
            m[f"sql.{r}.{k}"] = (sums[r][k], units.get(k, "count"))

    rate1, eff = scaling(raw, workload)
    m["scale.p1_throughput_per_s"] = (rate1, "1/s")
    m["scale.scaling_eff"] = (eff, "ratio")

    qs = [s for _, s in p4.get("query_s", [])]
    p = stats.tail_percentile(len(qs))
    m["sql.query_p50_ms"] = (stats.median(qs) * 1000 if qs else 0.0, "ms")
    m["sql.query_tail_ms"] = (stats.percentile(qs, p) * 1000 if p else 0.0, "ms")
    m["sql.query_tail_pct"] = (p or 0, "pct")

    untraced = stats.median(p4["op_s"])
    if workload == "query_sweep":
        traced = tr.get("traced_s", 0.0)
        base = untraced
    else:
        traced = tr.get("traced_digest_s", 0.0)
        base = tr.get("untraced_digest_s", 0.0)
    m["trace.traced_s"] = (traced, "s")
    m["trace.untraced_median_s"] = (untraced, "s")
    m["trace.overhead_frac"] = (per(traced, base) - 1 if base else 0.0, "ratio")
    return m


# ------------------------------------------------------------------- main

def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def run_one(root, cp, workload, seed, seconds, trace, inject):
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(root, cp, workload, seed, seconds, trace, work)
        if workload == "query_sweep":
            checks = oracle_checks(root, raw, work)
            raw["input"]["rows"] = sum(
                pq.ParquetFile(p).metadata.num_rows
                for p in glob.glob(os.path.join(root, raw["table_dir"], "*.parquet")))
        else:
            checks = golden_checks(root, raw, inject)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # failures: the JVM's failed operations and unequal checks, then ours
    attempted = raw["attempted"] + len(checks)
    failed = len(raw["errors"]) + sum(1 for _, ok, _ in checks if not ok)
    metrics = per_layer(raw, workload) if trace else end_to_end(raw, workload)
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "git_commit": git_commit(root), "nproc": os.cpu_count(),
        "jvm": raw["jvm"], "spark_conf": raw["spark_conf"], "input": raw["input"],
        "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted,
        "failures": raw["errors"] + [f"{n}: {d}" for n, ok, d in checks if not ok],
        "equal_checks": raw["equal_checks"], "digests": {
            k: raw[k] for k in ("digest_full", "golden_digest") if k in raw},
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "named": named_metrics(raw, workload),
        "phase_s": raw["phase_s"],
        "raw": {k: raw[k] for k in ("session_s", "materialize_s", "warmup_s",
                                    "p4", "p1", "trace") if k in raw},
    }
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results",
                           f"{workload}_seed{seed}_trace{trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    return record


def named_metrics(raw, workload):
    """The end-to-end metrics under their workload-specific names."""
    e = end_to_end(raw, workload)
    n = {"setup_s": e["setup_s"], "peak_rss_mb": e["peak_rss_mb"]}
    rate1, eff = scaling(raw, workload)
    if workload == "query_sweep":
        qs = [s for _, s in raw["p4"]["query_s"]]
        p = stats.tail_percentile(len(qs))
        n["sweep_s"] = (op_seconds(raw["p4"], workload), "s")
        n["query_p50_s"] = (stats.median(qs), "s")
        if p:
            n[f"query_p{p}_s"] = (stats.percentile(qs, p), "s")
        n["queries_per_s_p1"] = (rate1, "1/s")
    else:
        n["docs_per_s"] = e["throughput_per_s"]
        n["docs_per_s_p1"] = (rate1, "1/s")
        if raw.get("ckpt"):
            n["write_bytes_per_doc"] = (raw["ckpt"]["write_bytes"] / raw["input"]["rows"], "B")
    n["scaling_eff"] = (eff, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in n.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-mismatch", action="store_true",
                    help="corrupt the expected golden digest, to show a "
                         "mismatch is counted as a failure")
    a = ap.parse_args()
    root = os.getcwd()
    for need in ("src/main/scala", "fixtures", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a checkout: {need} is missing")
    t0 = time.time()
    cp = build(root)
    print(f"build ready in {time.time() - t0:.1f}s", file=sys.stderr)
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    # every metric by its workload's own name needs the one-thread pass,
    # which only the traced run makes
    trace = 1 if a.workload == "all" else a.trace
    records = [run_one(root, cp, w, a.seed, a.seconds, trace,
                       a.inject_mismatch) for w in names]
    for r in records:
        print(f"# {r['workload']} seed={r['seed']} trace={r['trace']} "
              f"attempted={r['attempted']} failed={r['failed']} "
              f"failed_frac={r['failed_frac']:.4f}")
        shown = dict(r["named"], **r["metrics"]) if a.workload == "all" else r["metrics"]
        for k, v in shown.items():
            print(f"{k:40s} {v['value']:.6g} {v['unit']}")
        for f in r["failures"]:
            print(f"FAILED {f}")
    if a.workload == "all":
        out = {r["workload"]: {"correct": r["failed"] == 0,
                               "attempted": r["attempted"], "failed": r["failed"],
                               "metrics": r["named"]} for r in records}
    else:
        r = records[0]
        out = {"correct": r["failed"] == 0, "attempted": r["attempted"],
               "failed": r["failed"], "metrics": r["metrics"]}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
