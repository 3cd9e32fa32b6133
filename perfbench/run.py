#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload olap_headline --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (sbt, offline,
into .bench_build/) together with a class-data sharing archive, starts the
harness JVM once, then compares the outputs
the harness wrote against DuckDB running each statement's oracle SQL over the
same parquet files. A wrong output counts as a failed operation for every
timed execution that produced it. See perfbench/NOTES.md.

The dataset is the sf0.1 fixture set under ~/testdata, or PERFBENCH_DATA.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CDS = os.path.join(BUILD, "cds")
ARCHIVE = os.path.join(CDS, "classes.jsa")
WORKLOADS = ("olap_headline", "oltp_mix")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
HEAP = "4g"
BUILD_TIMEOUT_S = 500
TRAIN_TIMEOUT_S = 200
RUN_TIMEOUT_S = 160  # the harness JVM; the DuckDB checks follow it


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def wait(p, timeout):
    """Waits for `p`; past `timeout` seconds kills its whole process group,
    waits for it and fails. Returns the exit code and stdout."""
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{p.args[0]} timed out after {timeout:.0f} s")


def sources_digest():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    files = []
    for pattern in ("build.sbt", "project/build.properties", "src/main/**/*.scala",
                    "perfbench/build.sbt", "perfbench/project/build.properties",
                    "perfbench/src/**/*.scala"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(data):
    """Compiles engine and harness once per source tree, then writes the
    class-data sharing archive; returns the JVM classpath and options."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} at {ROOT}: the engine's sources are needed to build")
    stamp = os.path.join(BUILD, "launch.digest")
    digest = sources_digest()
    if not (os.path.exists(ARCHIVE) and os.path.exists(stamp) and open(stamp).read() == digest):
        os.makedirs(BUILD, exist_ok=True)
        if os.path.exists(stamp):
            os.remove(stamp)
        shutil.rmtree(CDS, ignore_errors=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
               "-Dsbt.override.build.repos=true", "-Dsbt.server.autostart=false",
               "launchFile"]
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            try:
                rc = wait(subprocess.Popen(cmd, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                                           stdin=subprocess.DEVNULL, start_new_session=True),
                          BUILD_TIMEOUT_S)[0]
            except OSError as e:
                fail(f"build failed: {e}")
        if rc != 0 or not os.path.exists(os.path.join(BUILD, "launch.txt")):
            fail(f"build failed (exit {rc}), see {os.path.join(BUILD, 'build.log')}")
        classpath, opts = launch()
        pack(classpath)
        train(packed(classpath), opts, data)
        with open(stamp, "w") as fh:
            fh.write(digest)
    classpath, opts = launch()
    return packed(classpath), opts + ["-Xshare:on", f"-XX:SharedArchiveFile={ARCHIVE}"]


def launch():
    """The classpath entries and JVM options the engine's build declares."""
    classpath, opts = None, []
    for line in open(os.path.join(BUILD, "launch.txt")).read().splitlines():
        key, _, value = line.partition("=")
        if key == "classpath":
            classpath = value.split(os.pathsep)
        elif key == "opt":
            opts.append(value)
    if not classpath:
        fail("launch.txt has no classpath")
    return classpath, opts


def packed(classpath):
    """The classpath with each class directory replaced by a jar of it: the
    JVM archives classes from jars only."""
    return [os.path.join(CDS, f"classes-{i}.jar") if os.path.isdir(e) else e
            for i, e in enumerate(classpath)]


def pack(classpath):
    os.makedirs(CDS)
    for d, jar in zip(classpath, packed(classpath)):
        if jar != d:
            with zipfile.ZipFile(jar, "w") as z:
                for base, _, files in os.walk(d):
                    for f in files:
                        z.write(os.path.join(base, f), os.path.relpath(os.path.join(base, f), d))


def train(classpath, opts, data):
    """Runs olap_headline's set-up once in a JVM that archives the classes it
    loaded when it exits. Runs that map the archive skip most of the class
    loading and verification a cold JVM pays in its set-up."""
    out = os.path.join(BUILD, "runs", "train")
    shutil.rmtree(out, ignore_errors=True)
    cmd = java(classpath, opts + [f"-XX:ArchiveClassesAtExit={ARCHIVE}"], out,
               ["--workload", "train", "--seed", "0", "--seconds", "1", "--trace", "0", "--data", data])
    try:
        with open(os.path.join(BUILD, "train.log"), "w") as log:
            rc = wait(subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                       stdin=subprocess.DEVNULL, start_new_session=True),
                      TRAIN_TIMEOUT_S)[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    if rc != 0 or not os.path.exists(ARCHIVE):
        fail(f"class-data archive failed (exit {rc}), see {os.path.join(BUILD, 'train.log')}")


def java(classpath, opts, out, args):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + opts +
            ["-cp", os.pathsep.join(classpath), "perfbench.Main"] + args + ["--out", out])


def run_jvm(classpath, opts, args, data, out, deadline):
    cmd = java(classpath, opts, out,
               ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--data", data])
    rc, stdout = wait(subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                                       start_new_session=True, text=True),
                      max(1, deadline - time.time()))
    if rc != 0:
        fail(f"harness exited with {rc}")
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        fail("harness printed no result")
    return json.loads(lines[-2]), json.loads(lines[-1])


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def same(got, exp):
    """Exact comparison after sorting columns and rows; returns a reason or None."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    for c in g.columns:
        a, b = g[c], e[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            af, bf = a.astype(float), b.astype(float)
            ok = (af.values == bf.values) | (af.isna().values & bf.isna().values)
        else:
            ok = (a.astype(str).where(~a.isna(), "<NA>").values ==
                  b.astype(str).where(~b.isna(), "<NA>").values)
        if not ok.all():
            return f"column {c}: {int((~ok).sum())} values differ"
    return None


def dataset_fingerprint(data):
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.isfile(p):
            h.update(t.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def output_digest(df):
    c = canon(df)
    return hashlib.sha256((str(list(c.dtypes)) + c.to_csv(index=False)).encode()).hexdigest()


def oracle_check(out, data):
    """Compares each output the harness wrote with DuckDB running its oracle
    SQL, and charges every timed execution of a wrong output as failed.

    An output once found equal to its oracle is remembered by digest in
    .bench_build/, keyed by the dataset's bytes and the SQL text, so the
    same output on the same data is not re-checked in every run."""
    path = os.path.join(out, "check", "checks.json")
    if not os.path.exists(path):
        return 0, 0
    import pyarrow.parquet as pq
    cache_path = os.path.join(BUILD, "verified_outputs.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    fingerprint = dataset_fingerprint(data)
    con = None
    wrong_ops = checked = 0
    for c in json.load(open(path)):
        checked += 1
        key = hashlib.sha256((fingerprint + c["sql"]).encode()).hexdigest()
        try:
            got = pq.read_table(os.path.join(out, "check", c["id"])).to_pandas()
            digest = output_digest(got)
            if cache.get(key) == digest:
                continue
            if con is None:
                import duckdb
                con = duckdb.connect()
                for t in TABLES:
                    p = os.path.join(data, f"{t}.parquet")
                    if os.path.exists(p):
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            reason = same(got, con.execute(c["sql"]).fetchdf())
            if reason is None:
                cache[key] = digest
        except Exception as e:  # an unreadable output is a wrong output
            reason = f"check error: {e}"
        if reason:
            print(f"perfbench: WRONG {c['id']}: {reason}", file=sys.stderr)
            wrong_ops += c["weight"]
    with open(cache_path + ".tmp", "w") as fh:
        json.dump(cache, fh)
    os.replace(cache_path + ".tmp", cache_path)
    return wrong_ops, checked


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    data = os.environ.get("PERFBENCH_DATA",
                          os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    if not os.path.exists(os.path.join(data, "lineitem.parquet")):
        fail(f"dataset not found at {data} (set PERFBENCH_DATA)")

    classpath, opts = build(data)
    deadline = time.time() + RUN_TIMEOUT_S
    out = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        t0 = time.time()
        summary, result = run_jvm(classpath, opts, args, data, out, deadline)
        t1 = time.time()
        wrong_ops, checked = oracle_check(out, data)
        summary.update(harness_s=round(t1 - t0, 1), check_s=round(time.time() - t1, 1))
        if args.trace and os.path.exists(os.path.join(out, "spans.jsonl")):
            keep = os.path.join(BUILD, f"spans-{args.workload}-{args.seed}.jsonl")
            shutil.copyfile(os.path.join(out, "spans.jsonl"), keep)
            summary["spans"] = os.path.relpath(keep, ROOT)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    attempted = result["attempted"]
    failed = min(attempted, result["failed"] + wrong_ops)
    summary.update(failed=failed, failed_ratio=failed / attempted, outputs_checked=checked)
    result.update(correct=result["correct"] and failed == 0, failed=failed)
    print(json.dumps(summary))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
