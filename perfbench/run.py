#!/usr/bin/env python3
"""graft benchmark: runs one workload with one seed in a fresh JVM
(`local[N]`, N = the cores this process may use) and prints one JSON
line with the end-to-end metrics (`--trace 0`) or the per-layer record
(`--trace 1`), after checking every output against DuckDB.

Usage: python3 perfbench/run.py --workload dws_olap|curation_fits|stream_ingest
           --seed N --seconds S --trace 0|1
Run from the repository root. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

HEAP = "4g"
# Extra JVMs that only set up, besides the measured one: setup_s is the
# median of all of them.
SETUP_PROBES = 1
JVM_TIMEOUT_S = 170
# Inputs per workload (see gen.generate), the same for every seed.
# curation_fits and stream_ingest read the gate's sizes (sf0.1: 5,000
# documents, 2,000 embeddings, 100,000 events, one row group each);
# dws_olap splits its facts into one row group per core, as the copy
# tools/scalegen.py makes. The tables listed are the ones the workload
# reads; a batch workload's rows_per_s is their row count over the
# steady pass time.
STAR = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
PROBE_SIZE = dict(tables=STAR + ["events", "documents", "embeddings"], sf=0.1,
                  n_events=100_000, n_docs=5000, n_vecs=2000, row_groups=None)
SIZES = {
    "dws_olap": dict(tables=STAR + ["events", "documents"], sf=0.1, n_events=100_000,
                     n_docs=5000, n_vecs=0, row_groups=None),
    "curation_fits": dict(tables=["documents", "embeddings"], sf=0, n_events=0,
                          n_docs=5000, n_vecs=2000, row_groups=1),
    "stream_ingest": dict(tables=["events"], sf=0, n_events=100_000, n_docs=0, n_vecs=0,
                          row_groups=1),
}


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def cores():
    return len(os.sched_getaffinity(0))


def inputs(root, size):
    """The directory holding the inputs of `size`, generated on first use
    and reused by later runs while gen.py and the size are unchanged."""
    size = dict(size, row_groups=size["row_groups"] or cores())
    h = hashlib.sha256(json.dumps(size, sort_keys=True).encode())
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        h.update(f.read())
    out = os.path.join(root, "data-" + h.hexdigest()[:16])
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, **size)
        os.rename(tmp, out)
    return out


def jvm(classpath, work, **args):
    """Runs the harness in a fresh JVM; returns the JSON file it wrote."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Harness", "--work", work]
    for k, v in args.items():
        cmd += ["--" + k.replace("_", "-"), str(v)]
    cmd += ["--launch-ns", str(time.time_ns())]
    with open(os.path.join(work, "jvm.log"), "a") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: JVM timed out after {JVM_TIMEOUT_S}s (log: {work}/jvm.log)")
    if r.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            # the exception lines, without their stack frames
            sys.stderr.writelines(l for l in f if not l.startswith(("\t", " "))
                                  and ("Exception" in l or "Error" in l))
        sys.exit(f"perfbench: JVM failed with code {r.returncode}")
    name = "setup.json" if args["mode"] == "setup" else "result.json"
    with open(os.path.join(work, name)) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classpath = build.build()
    root = os.path.join(build.build_dir(), "perfbench")
    work = os.path.join(root, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.time()
    data = inputs(root, SIZES[a.workload])
    steps = {"inputs": time.time() - t0}

    try:
        common = dict(workload=a.workload, data=data, seed=a.seed, seconds=a.seconds,
                      trace=a.trace)
        if a.trace:
            # the module probes read every table at the gate's size
            common["probe_data"] = inputs(root, PROBE_SIZE)
        t0 = time.time()
        setups = [jvm(classpath, os.path.join(work, f"setup{i}"), mode="setup", **common)["setup_s"]
                  for i in range(SETUP_PROBES)]
        steps["setup_probes"] = time.time() - t0
        res = jvm(classpath, work, mode="run", **common)
        steps["run"] = time.time() - t0 - steps["setup_probes"]
        setups.append(res["setup_s"])
        e2e = dict(res["e2e"], setup_s=statistics.median(setups))
        if a.workload == "stream_ingest":
            mismatches = check.stream(data, os.path.join(work, "out"),
                                      os.path.join(work, "stream"), work, res)
        else:
            mismatches = check.batch(data, os.path.join(work, "out"), work)
        steps["check"] = time.time() - t0 - steps["setup_probes"] - steps["run"]
        print("perfbench: step seconds", json.dumps({k: round(v, 1) for k, v in steps.items()}),
              file=sys.stderr)
        print("perfbench: e2e", json.dumps(e2e), file=sys.stderr)
        print("perfbench: pass_s", json.dumps([round(v, 3) for v in res["pass_s"]]),
              file=sys.stderr)
        for k in ("per_query_cold_ms", "per_query_steady_ms"):
            if k in res:
                print(f"perfbench: {k}", json.dumps({q: round(v) for q, v in res[k].items()}),
                      file=sys.stderr)
        for m in res["errors"] + mismatches:
            print("perfbench:", m, file=sys.stderr)
        failed = res["failed"] + len(mismatches)
        correct = not mismatches and not res["errors"]
        if a.workload != "stream_ingest":
            rows = sum(pq.ParquetFile(os.path.join(data, f"{t}.parquet")).metadata.num_rows
                       for t in SIZES[a.workload]["tables"])
            e2e["rows_per_s"] = rows / e2e["steady_pass_s"]
        if a.trace:
            res["layers"]["jvm.peak_rss_mb"] = e2e["peak_rss_mb"]
            record = dict(workload=a.workload, seed=a.seed, seconds=a.seconds, e2e=e2e,
                          layers=res["layers"], detail={k: v for k, v in res.items()
                                                        if k not in ("layers", "e2e")})
            with open(os.path.join(root, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
                json.dump(record, f, indent=1, sort_keys=True)
        kind = "per_layer" if a.trace else "end_to_end"
        values = res["layers"] if a.trace else e2e
        # a layer this workload does not exercise reads 0
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec()[kind]}
        if not a.trace:
            missing = [n for n, v in metrics.items() if not v["value"]]
            if missing:
                sys.exit(f"perfbench: end-to-end metrics missing: {missing}")
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
