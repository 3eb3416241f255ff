#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: bulk_replicate, registry_sf01 (see perfbench/README.md).

    python3 perfbench/run.py --parity <fixture dir>

instead compares the registry's cost and result rows on a directory of the
fixture family with those on the generated corpus.

The script builds the program and the benchmark from source with the Scala
compiler that ships in the Spark jars (output under .bench_build/), runs
one workload in one JVM, checks registry results against the DuckDB
oracle, and prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from a traced phase.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SOURCES = [ROOT / "src" / "main" / "scala", HERE / "src" / "main" / "scala"]
RESOURCES = ROOT / "src" / "main" / "resources"
WORKLOADS = ("bulk_replicate", "registry_sf01")
JVM_TIMEOUT_S = 170
JVM_OPTIONS = HERE / "jvm.options"  # shared with build.sbt


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME")
    jars = sorted(Path(home, "jars").glob("*.jar")) if home else []
    if not jars:
        die("no Spark jars found: set SPARK_HOME to a Spark 4 distribution")
    return jars


def scala_files():
    files = []
    for d in SOURCES:
        if not d.is_dir():
            die(f"source directory {d.relative_to(ROOT)} is missing; run from a full checkout")
        files += sorted(d.rglob("*.scala"))
    return files


def build(jars):
    """Compile program + benchmark once per source state into one jar with
    the program's resources, then write the class-data sharing archive
    runs start from; return the build directory."""
    files = scala_files()
    digest = hashlib.sha256()
    for f in files + sorted(p for p in RESOURCES.rglob("*") if p.is_file()):
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    out = BUILD / f"classes-{digest.hexdigest()[:16]}"
    if (out / ".done").exists():
        return out
    for old in BUILD.glob("classes-*"):  # other source states, or a build cut short
        shutil.rmtree(old, ignore_errors=True)
    classes = out / "classes"
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cp = os.pathsep.join(str(j) for j in jars)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(classes), "-classpath", cp, f"@{argfile}"],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        die("compilation failed")
    argfile.unlink()
    with zipfile.ZipFile(out / "graft.jar", "w") as jar:
        for base in (classes, RESOURCES):
            for f in sorted(p for p in base.rglob("*") if p.is_file()):
                jar.write(f, f.relative_to(base).as_posix())
    shutil.rmtree(classes)
    # The archive holds the classes a run loads while it sets up and warms
    # up each workload (graftbench.Train). Runs that map it start about 6 s
    # sooner; their timed steps, which follow a warm-up, are unchanged.
    # Class-data sharing needs the classpath to be jars, at the same paths.
    work = BUILD / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        run_jvm(out, jars, "graftbench.Train", [], work,
                [f"-XX:ArchiveClassesAtExit={out / 'cds.jsa.tmp'}"])
        (out / "cds.jsa.tmp").rename(out / "cds.jsa")
    except (RuntimeError, OSError) as e:  # runs then start without the archive
        print(f"perfbench: no class-data sharing archive: {e}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    (out / ".done").write_text(f"{time.time() - t0:.1f}\n")
    return out


def run_jvm(built, jars, main_class, args, work, extra=()):
    """Run `main_class` with `args`; return its tagged stdout lines as
    {tag: parsed JSON}. Raises RuntimeError when it fails."""
    cp = os.pathsep.join([str(built / "graft.jar")] + [str(j) for j in jars])
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    options = [x for x in JVM_OPTIONS.read_text().splitlines() if x]
    if (built / "cds.jsa").exists():
        options.append(f"-XX:SharedArchiveFile={built / 'cds.jsa'}")
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:ReservedCodeCacheSize=1g", *options, *extra,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-cp", cp, main_class, *args, "--work", str(work / "data")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"{main_class} exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:  # timed out, or this script was told to stop
            proc.kill()
            proc.wait()
    lines = {}
    for line in stdout.splitlines():
        tag, _, body = line.partition(" ")
        if tag.startswith("GRAFTBENCH_"):
            lines[tag] = json.loads(body)
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{main_class} exited with code {proc.returncode} and no result")
    return lines


def norm(df):
    """A result as tools/check_oracle.py compares it: columns sorted by
    name, cells as repr, rows sorted."""
    df = df[sorted(df.columns)].map(repr)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_mismatches(oracle_dir, tables_dir):
    """Compare each registry result the warm-up dumped with its DuckDB
    oracle SQL. Returns (queries checked, failing ones)."""
    sqls = json.loads((oracle_dir / "oracle_sql.json").read_text())
    try:
        import duckdb
    except ImportError:
        print("perfbench: duckdb missing; every oracle check fails", file=sys.stderr)
        return len(sqls), sorted(sqls)
    con = duckdb.connect()
    for p in sorted(tables_dir.glob("*.parquet")):
        con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    bad = []
    for name, sql in sorted(sqls.items()):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{oracle_dir / name}/*.parquet')").df()
            exp = con.sql(sql).df()
            ok = sorted(got.columns) == sorted(exp.columns) and norm(got).equals(norm(exp))
        except Exception as e:  # a broken oracle query is a failed check too
            print(f"perfbench: oracle {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: oracle mismatch: {name}", file=sys.stderr)
            bad.append(name)
    con.close()
    return len(sqls), bad


def parity(fixtures, seed):
    """Print the registry's per-query cost and result rows on a fixture
    directory next to those on the generated corpus (graftbench.Parity)."""
    jars = spark_jars()
    built = build(jars)
    work = BUILD / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        out = run_jvm(built, jars, "graftbench.Parity",
                      ["--fixtures", str(Path(fixtures).resolve()), "--seed", str(seed),
                       "--reps", "5"], work)
    except RuntimeError as e:
        die(str(e))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out["GRAFTBENCH_PARITY"], indent=1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parity", metavar="FIXTURE_DIR",
                    help="instead of a run, compare the registry on a fixture directory "
                         "with the generated corpus")
    parity_mode = "--parity" in sys.argv
    ap.add_argument("--workload", required=not parity_mode, choices=WORKLOADS)
    ap.add_argument("--seed", required=not parity_mode, type=int, default=1)
    ap.add_argument("--seconds", required=not parity_mode, type=float)
    ap.add_argument("--trace", required=not parity_mode, type=int, choices=(0, 1))
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.parity:
        parity(args.parity, args.seed)
        return

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    jars = spark_jars()
    built = build(jars)
    work = BUILD / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.time()
        try:
            out = run_jvm(built, jars, "graftbench.Main",
                          ["--workload", args.workload, "--seed", str(args.seed),
                           "--seconds", str(args.seconds), "--trace", str(args.trace)], work)
        except RuntimeError as e:
            die(str(e))
        if "GRAFTBENCH_RESULT" not in out:
            die("benchmark JVM printed no result")
        res, ledger = out["GRAFTBENCH_RESULT"], out.get("GRAFTBENCH_LEDGER")
        detail = res["detail"]
        failed = res["failed"]
        detail["jvm_s"] = round(time.time() - t0, 3)
        if args.workload == "registry_sf01":
            registry = work / "data" / "registry"
            checked, bad = oracle_mismatches(registry / "oracle", registry / "main")
            failed += len(bad)
            detail["oracle_checked"] = checked
            detail["oracle_mismatches"] = bad
        attempted = max(1, res["attempted"])
        if ledger is not None:
            traces = BUILD / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            (traces / f"{args.workload}-{args.seed}.json").write_text(json.dumps(ledger))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = {
        "setup_s": res["setup_s"],
        "success_ratio": max(0.0, 1.0 - failed / attempted),
        "peak_live_heap_mb": res["peak_live_heap_mb"],
        "pass_ms": res["pass_ms"],
    }
    values.update(res["per_layer"])
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"detail": {k: res[k] for k in
                                 ("setup_runs_s", "setup_cold_s", "warmup_s", "phase_s", "passes", "pass_runs_ms", "pass_tail", "errors")} | detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
