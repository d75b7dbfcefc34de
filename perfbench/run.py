#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <etl_wide|etl_deep|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the repository and the
benchmark with sbt (perfbench/build.sbt compiles the root build's sources);
later calls reuse the build while the sources are unchanged. The JVM side
(perfbench.Main) times the workload and checks ETL outputs against the
generator's expected tables; this script then checks query_mix outputs
against DuckDB running each query's oracle SQL, and prints the result as
the last line of standard output. A wrong or failed operation makes the
exit code 1.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
BUILD_STAMP = os.path.join(TARGET, "perfbench-build.json")
HEAP = "3g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 160


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(digest):
    """Compiles once per source digest; returns (classpath, java options)."""
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == digest:
            return stamp["classpath"], stamp["java_options"]
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export perfbench/Runtime/fullClasspath", "show perfbench/javaOptions"]
    try:
        out = subprocess.run(cmd, cwd=HERE, env=sbt_env(), capture_output=True, text=True,
                             timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        die("build failed")
    lines = out.stdout.splitlines()
    classpath = next(l for l in lines if ".jar" in l and not l.startswith("["))
    java_options = [l[len("[info] * "):] for l in lines if l.startswith("[info] * ")]
    os.makedirs(TARGET, exist_ok=True)
    with open(BUILD_STAMP, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath, "java_options": java_options}, fh)
    return classpath, java_options


def git_commit():
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel"],
                             capture_output=True, text=True, timeout=10)
        if top.returncode == 0 and os.path.samefile(top.stdout.strip(), ROOT):
            return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                  text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def oracle_module():
    """The repository's own oracle normalization (tools/check_oracle.py)."""
    sys.dont_write_bytecode = True  # leave no cache files beside the repository's tools
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_outputs(checks):
    """Compares each query output with DuckDB running its oracle SQL on the
    same corpus, the way tools/check_oracle.py does; returns failures."""
    import duckdb
    co = oracle_module()
    failures, cons = [], {}
    for c in checks:
        con = cons.get(c["data"])
        if con is None:
            con = cons[c["data"]] = duckdb.connect()
            for t in sorted(os.listdir(c["data"])):
                if t.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                                f"'{os.path.join(c['data'], t)}/*.parquet'")
        label = f"oracle {os.path.basename(os.path.dirname(c['output']))} {c['name']}"
        try:
            got = con.sql(f"SELECT * FROM '{c['output']}/*.parquet'")
            want = con.sql(c["sql"])
        except Exception as e:  # a missing output or an oracle error is a failure
            failures.append(f"{label}: {e}")
            continue
        gcols, wcols = sorted(got.columns), sorted(want.columns)
        if [x.lower() for x in gcols] != [x.lower() for x in wcols]:
            failures.append(f"{label}: columns {gcols} vs {wcols}")
            continue
        gtypes = {x.lower(): str(t) for x, t in zip(got.columns, got.types)}
        wtypes = {x.lower(): str(t) for x, t in zip(want.columns, want.types)}
        skew = [x for x in gtypes if co.type_token(gtypes[x]) != co.type_token(wtypes[x])]
        if skew:
            failures.append(f"{label}: type skew on {skew}")
            continue

        def rows(rel, cols):
            sel = rel.select(", ".join(f'"{x}"' for x in cols)).fetchall()
            return sorted(repr(tuple(co.norm(v) for v in r)) for r in sel)
        if rows(got, gcols) != rows(want, wcols):
            failures.append(f"{label}: values differ from the oracle")
    for con in cons.values():
        con.close()
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        die("no repository sources beside the benchmark; run from a full checkout")
    with open(bench_file) as fh:
        bench = json.load(fh)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        die(f"unknown workload {args.workload}")

    digest = source_digest()
    classpath, java_options = build(digest)

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(TARGET, "work", run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out_file = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + java_options +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out_file])
    t0 = time.time()
    try:
        try:
            proc = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                                  timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die("benchmark JVM timed out")
        if proc.returncode != 0 or not os.path.exists(out_file):
            die(f"benchmark JVM exited with {proc.returncode}")
        with open(out_file) as fh:
            res = json.load(fh)
        r = res["result"]
        failures = list(r["failures"]) + check_outputs(r.get("oracle_checks", []))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        layer = dict(r["per_layer"])
        layer["trace.stale"] = float(len(r["stale"]))
        values = {m["name"]: layer.get(m["name"], 0.0) for m in bench["per_layer"]}
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    else:
        e2e = dict(r["end_to_end"])
        e2e["setup_s"] = res["setup_s"]
        values = {m["name"]: e2e[m["name"]] for m in bench["end_to_end"]}
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}

    attempted = int(r["attempted"])
    failed = min(len(failures), attempted)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": git_commit(), "source_digest": digest,
        "config": res["config"], "setup_s": res["setup_s"], "passes": r["passes"],
        "failed_share": failed / attempted, "failures": failures,
        "stale": r["stale"],
        "oracle_checked": len(r.get("oracle_checks", [])),
        "wall_s": round(time.time() - t0, 3),
    }
    os.makedirs(os.path.join(TARGET, "results"), exist_ok=True)
    with open(os.path.join(TARGET, "results", f"{run_id}.json"), "w") as fh:
        json.dump({"detail": detail, "metrics": values}, fh, indent=1)
    print(json.dumps({"perfbench": detail}))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    sys.exit(0 if not failures else 1)


if __name__ == "__main__":
    main()
