#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: curation and analyst_queries (see
perfbench/README.md). The first run builds the library and the benchmark program
with sbt (perfbench/build.sbt) and later runs reuse the classes while the
sources are unchanged. Each run generates its inputs from --seed
(perfbench/gen.py), runs perfbench.Main in one JVM, checks
the outputs, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. Everything the run writes stays under perfbench/.work.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
WORKLOADS = ("curation", "analyst_queries")
HEAP = "3g"
# generated tables per workload: (scale, warm-up scale, table names or
# None for all)
INPUTS = {
    "curation": (1.0, 1.0, ["documents", "embeddings"]),
    "analyst_queries": (0.1, 0.01, None),
}
# the JVM gets this long; the whole run must end within 180 s
JVM_TIMEOUT_S = 150
# per-layer metrics that only one workload produces, by name prefix; the
# other workloads report them as 0 (the layer did no work there)
OWNERS = {
    "curation": ("Dedup.", "Decontam.", "TextAnalysis.", "Splits.", "Similarity.", "TopN."),
    "analyst_queries": ("query.", "Tables.", "sources."),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    lib = ROOT / "src" / "main"
    if not (lib / "scala" / "graft").is_dir():
        raise BenchError(f"library sources not found under {lib}")
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (lib, HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile the library and perfbench.Main unless the classes are current."""
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not (Path(spark_home) / "jars").is_dir():
        raise BenchError("SPARK_HOME must name a Spark installation with a jars/ directory")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = WORK / "build.stamp"
    classes = HERE / "target" / "scala-2.13" / "classes"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return classes, spark_home
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building with sbt")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "Compile/copyResources"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr,
        timeout=840)
    if r.returncode != 0:
        raise BenchError("sbt compile failed")
    log(f"built in {time.time() - t0:.1f} s")
    WORK.mkdir(parents=True, exist_ok=True)
    stamp.write_text(digest.hexdigest())
    return classes, spark_home


def run_jvm(classes, spark_home, args, data, warm_data, work):
    out = work / "result.json"
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{Path(spark_home) / 'jars'}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", str(data), "--warm-data", str(warm_data), "--work", str(work),
            "--out", str(out)]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    deadline = time.time() + JVM_TIMEOUT_S
    pid = 0
    try:
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                raise BenchError(f"perfbench.Main did not finish within {JVM_TIMEOUT_S} s")
            time.sleep(0.05)
    finally:
        if not pid:  # timed out or interrupted: stop the JVM and reap it
            proc.kill()
            os.wait4(proc.pid, 0)
    code = os.waitstatus_to_exitcode(status)
    if code != 0:
        raise BenchError(f"perfbench.Main exited with {code}")
    # ru_maxrss is in KiB on Linux
    return json.loads(out.read_text()), usage.ru_maxrss / 1024.0


def load_canon():
    """The canonical row form of the repository's oracle checker."""
    path = ROOT / "scripts" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def oracle_failures(result, data, work):
    """Names of analyst operations whose verified output differs from DuckDB."""
    import duckdb
    import pandas as pd

    canon = load_canon()
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in data.glob("*.parquet"):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    bad = {}
    for name, sql in result["extra"]["oracle_sql"].items():
        files = sorted((work / "results" / name).glob("*.parquet"))
        if not files:
            bad[name] = "no result files"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        want = con.sql(sql).df()
        if sorted(got.columns) != sorted(want.columns):
            bad[name] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        elif len(got) != len(want):
            bad[name] = f"{len(got)} rows != {len(want)}"
        elif canon(got) != canon(want):
            bad[name] = "values differ"
    # the write step: the latest version read back is the update batch, and
    # the table written back is the cohort with the batch upserted into it
    r = result["extra"]["update_residue"]
    con.execute(f"""
        CREATE VIEW cohort AS SELECT o_orderkey, o_custkey, o_totalprice,
          DATE '2024-01-01' AS archived_on FROM orders
        WHERE o_orderstatus IN ('O', 'F') AND o_totalprice > 50000;
        CREATE VIEW updates AS SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice,
          DATE '2024-02-01' AS archived_on FROM orders WHERE o_orderkey % 7 = {r};
        CREATE VIEW upserted AS SELECT * FROM updates UNION ALL
          SELECT * FROM cohort WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)""")
    for got_dir, want in ((work / "results" / "write_step", "updates"),
                          (work / "warehouse" / "bench.db" / "cohort_latest", "upserted")):
        if not list(got_dir.glob("*.parquet")):
            bad["write_step"] = f"nothing written under {got_dir.name}"
            continue
        got = (f"SELECT o_orderkey, o_custkey, o_totalprice, archived_on "
               f"FROM read_parquet('{got_dir}/*.parquet')")
        diff = con.sql(f"SELECT count(*) FROM (({got}) EXCEPT ALL (SELECT * FROM {want})) "
                       f"UNION ALL SELECT count(*) FROM ((SELECT * FROM {want}) EXCEPT ALL ({got}))"
                       ).fetchall()
        if any(n for (n,) in diff):
            bad["write_step"] = f"{got_dir.name} differs from the expected upsert ({diff})"
    return bad


def metric_names():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    end_to_end, per_layer = metric_names()
    classes, spark_home = build()

    work = WORK / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    data, warm_data = work / "data", work / "warm-data"
    gen = importlib.util.spec_from_file_location("gen", HERE / "gen.py")
    gen_mod = importlib.util.module_from_spec(gen)
    gen.loader.exec_module(gen_mod)
    t0 = time.time()
    scale, warm_scale, names = INPUTS[args.workload]
    gen_mod.write(data, args.seed, scale, names)
    if warm_scale != scale:
        gen_mod.write(warm_data, args.seed, warm_scale, names)
    else:
        warm_data = data
    gen_s = time.time() - t0

    result, peak_rss_mb = run_jvm(classes, spark_home, args, data, warm_data, work)
    ops = result["ops"]
    problems = list(result["checks"])
    if args.workload == "analyst_queries":
        bad = oracle_failures(result, data, work)
        problems += [f"{n}: {why}" for n, why in sorted(bad.items())]
        for op in ops:
            if op["name"] in bad:
                op["ok"] = False
    attempted = len(ops)
    failed = sum(1 for op in ops if not op["ok"])

    if args.trace == 0:
        values = {
            "setup_s": result["setup"]["setup_s"],
            "op_p50_s": statistics.median(result["pass_s"]),
            "ok_ratio": (attempted - failed) / attempted,
        }
        wanted = end_to_end
    else:
        values = dict(result["layers"])
        for name in (m["name"] for m in per_layer):
            owner = next((w for w, pre in OWNERS.items() if name.startswith(pre)), None)
            if name not in values and owner not in (None, args.workload):
                values[name] = 0.0
        wanted = per_layer
    metrics = {}
    for m in wanted:
        if m["name"] not in values:
            problems.append(f"metric {m['name']} was not measured")
            continue
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}

    for p in problems:
        log(f"CHECK FAILED: {p}")
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "jvm_heap_mb": result["jvm_heap_mb"], "cores": result["cores"],
        "input_rows": result["input_rows"], "samples": len(result["pass_s"]),
        "pass_s": result["pass_s"], "measured_s": result["measured_s"],
        "peak_rss_mb": peak_rss_mb,
        "gen_s": gen_s, "setup": result["setup"], "extra": {
            k: v for k, v in result["extra"].items() if k not in ("oracle_sql", "reference")},
    }
    kinds = {op["kind"] for op in ops}
    for kind in sorted(kinds):
        ks = [op["sec"] for op in ops if op["kind"] == kind]
        info[f"{kind}_p50_s"] = statistics.median(ks)
    if args.workload == "curation":
        info["rows_per_s"] = result["input_rows"] / statistics.median(result["pass_s"])
    print(json.dumps(info))
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    # a terminated run unwinds like an error, so the JVM is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))
    try:
        main()
    except (BenchError, subprocess.TimeoutExpired, OSError, KeyError, ValueError) as e:
        log(f"error: {e}")
        sys.exit(2)
