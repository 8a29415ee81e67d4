#!/usr/bin/env python3
"""graft benchmark: build, generate inputs, run one workload, check every
output, print every metric.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload features_analytics --seed 1 \
      --seconds 20 --trace 0

--trace 0 prints the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones (and writes spans plus a "where the time goes" table under
.bench_build/trace/<workload>/). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
See perfbench/README.md.
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
JAR = os.path.join(BUILD, "graft-perfbench.jar")
CDS = os.path.join(BUILD, "graft-perfbench.jsa")
WORKLOADS = ("features_analytics", "ingest_incremental")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# JIT settings of every harness JVM. With JDK 17's defaults a run never
# reaches steady state: on a 4-core box the C2 compiler threads and the
# code-cache sweeper burned 0.5 to 0.7 of a core each all through a
# minute of features passes, whose times kept falling (3.6 s to 2.2 s over
# 25 passes), so a run's median depended on how many passes it got. C1
# alone, with compile thresholds a tenth of the default and a code cache
# that is never flushed, compiles most hot paths within the set-up; the
# timed units then spend their CPU in the program. The compiler threads
# stay alive all run, so the harness can leave their CPU out of cpu_s.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.1",
       "-XX:ReservedCodeCacheSize=512m", "-XX:-UseCodeCacheFlushing",
       "-XX:-UseDynamicNumberOfCompilerThreads"]

sys.path.insert(0, HERE)
import gen  # noqa: E402


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark install the library compiles and runs against."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        die("SPARK_HOME does not name a Spark install")
    return home


def sources():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(HERE, "src")):
        files += sorted(glob.glob(f"{d}/**/*.scala", recursive=True))
    return files


def build():
    """Compile the library and the harness (perfbench/build.sbt), pack them
    into one jar and record a class-data-sharing archive of the classes the
    workloads load, unless the sources are unchanged since the last build in
    this checkout. Returns the jar's path."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        die("no graft sources next to perfbench/ (src/main/scala/graft)")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() \
            and os.path.isfile(JAR) and os.path.isfile(CDS):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline",
               SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        die("build failed")
    classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                z.write(os.path.join(d, f),
                        os.path.relpath(os.path.join(d, f), classes))
    # The first Spark queries in a JVM spend most of their time loading
    # classes; every run maps them from this archive instead.
    arch = os.path.join(BUILD, "archive")
    shutil.rmtree(arch, ignore_errors=True)
    for w in WORKLOADS:
        gen.generate(w, 0, os.path.join(arch, "data", w), scale=20)
    if os.path.exists(CDS):
        os.remove(CDS)
    run_jvm(["--workload", "archive", "--data", os.path.join(arch, "data"),
             "--out", os.path.join(arch, "work"), "--cores", str(gen.nproc())],
            os.path.join(arch, "work"), 600, [f"-XX:ArchiveClassesAtExit={CDS}"])
    shutil.rmtree(arch, ignore_errors=True)
    if not os.path.isfile(CDS):
        die("class-data-sharing archive was not written")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    print(f"# built in {time.time() - t0:.1f} s", file=sys.stderr)


def run_jvm(args, work, timeout, share=None):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-Xlog:cds=off"]
           + JIT + (share or [f"-XX:SharedArchiveFile={CDS}"])
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"]
           + [x for o in JVM_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", f"{JAR}:{spark_home()}/jars/*", "graftbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "wb") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.log"),
                              errors="replace").read()[-4000:])
        die(f"harness JVM failed ({rc})")


def oracle_compare(data, check):
    """DuckDB oracle compare of the check pass through tools/compare_oracle.py;
    returns {step: status line} for every step with an oracle entry."""
    sql = json.load(open(os.path.join(check, "oracle_sql.json")))
    if not sql:
        return {}
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools",
                                                     "compare_oracle.py"),
                        data, check], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=120)
    status = {}
    for line in p.stdout.decode(errors="replace").splitlines():
        parts = line.split(None, 1)
        if len(parts) == 2 and parts[0] in sql:
            status[parts[0]] = parts[1]
    return {q: status.get(q, "NO_RESULT") for q in sql}


def trigrams(text):
    toks = text.lower().split()
    return frozenset(" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)) \
        if len(toks) >= 3 else frozenset(toks)


def jaccard(a, b):
    inter = len(a & b)
    uni = len(a) + len(b) - inter
    return inter / uni if uni else 0.0


def check_probability_prediction(out, data):
    """Invariants of the logistic-regression fit, which has no oracle: one
    row per customer, five class probabilities in [0, 1] summing to 1, and
    the prediction (when present) is the most probable class. Returns an
    error message, or "" when the output holds."""
    import pyarrow.parquet as pq
    t = pq.read_table(out).to_pydict()
    n = pq.read_metadata(os.path.join(data, "customer.parquet")).num_rows
    probs = sorted((c for c in t if c.startswith("probability")),
                   key=lambda c: int(c.rsplit("_", 1)[-1]))
    if len(probs) != 5:
        return f"expected 5 probability columns, got {probs}"
    rows = len(t[probs[0]])
    if rows != n:
        return f"{rows} rows for {n} customers"
    for i in range(rows):
        ps = [t[c][i] for c in probs]
        if any(p is None or not 0.0 <= p <= 1.0 for p in ps) \
                or abs(sum(ps) - 1.0) > 1e-6:
            return f"row {i}: probabilities {ps}"
        if "prediction" in t and t["prediction"][i] != ps.index(max(ps)):
            return f"row {i}: prediction {t['prediction'][i]} for {ps}"
    return ""


# Restatement checks of steps that have no SparkEntry.oracleSql entry.
PROPERTY_CHECKS = {"probability_prediction": check_probability_prediction}


def check_ingest(res, data):
    """Brute-force restatement of both ingest legs. Batch leg: a batch doc
    survives unless its word-trigram Jaccard with a history doc is >= 0.5,
    or a smaller-id doc of the same batch is. Stream leg: every emitted link
    must be a pair whose exact Jaccard is >= 0.8 and equals the reported one,
    and every arrival with Jaccard >= 0.9 to a doc landed before it (a
    generated near-copy) must have a link. Returns the number of batches
    whose output is wrong."""
    import pyarrow.parquet as pq
    sh, index, seen = {}, {}, {}

    def add(i, t):
        sh[i] = trigrams(t)
        for g in sh[i]:
            index.setdefault(g, set()).add(i)

    def landed(i):
        for g in sh[i]:
            seen.setdefault(g, set()).add(i)

    docs = pq.read_table(os.path.join(data, "documents.parquet")).to_pydict()
    for i, t in zip(docs["doc_id"], docs["text"]):
        add(i, t)
        landed(i)
    links = pq.read_table(res["links_dir"]).to_pydict() \
        if os.path.isdir(res["links_dir"]) else \
        {"doc_id": [], "kept_id": [], "jaccard": []}
    linked = set(links["doc_id"])
    per_batch = gen.SIZES["ingest_incremental"]["batch_docs"]
    bad = set()
    for b in range(res["batches"]):
        batch = pq.read_table(os.path.join(
            data, "arrivals", f"b_{b:05d}.parquet")).to_pydict()
        ids = batch["doc_id"]
        bsh = {i: trigrams(t) for i, t in zip(ids, batch["text"])}
        losers = set()
        for i in ids:
            cand = set().union(*(index.get(g, ()) for g in bsh[i]))
            if any(jaccard(bsh[i], sh[c]) >= 0.5 for c in cand):
                losers.add(i)
        for x in ids:
            for y in ids:
                if x < y and jaccard(bsh[x], bsh[y]) >= 0.5:
                    losers.add(y)
        part = os.path.join(res["hist_dir"], f"b={b + 1}")
        got = set(pq.read_table(part).column("doc_id").to_pylist()) \
            if os.path.isdir(part) else None
        if got != set(ids) - losers:
            bad.add(b)
        for i, t in zip(ids, batch["text"]):
            if i in losers:
                sh[i] = bsh[i]  # not history, but a stream link may name it
            else:
                add(i, t)
        for i in sorted(ids):
            cand = set().union(*(seen.get(g, ()) for g in sh[i]))
            if i not in linked and \
                    any(jaccard(sh[i], sh[c]) >= 0.9 for c in cand):
                bad.add(b)
            landed(i)
    for d, k, j in zip(links["doc_id"], links["kept_id"], links["jaccard"]):
        exact = jaccard(sh[d], sh[k]) if d in sh and k in sh else -1
        if exact < 0.8 or abs(exact - j) > 1e-9:
            bad.add(max(0, (d - gen.ARRIVAL_ID0) // per_batch))
    return len(bad)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    build()
    t_start = time.time()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", tag)
    data = os.path.join(work, "data")
    try:
        info = gen.generate(a.workload, a.seed, data)
        for name, (rows, size) in sorted(info.items()):
            print(f"# input {name}: {rows} rows, {size} bytes")
        budget = 175 - (time.time() - t_start)
        run_jvm(["--workload", a.workload, "--data", data,
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--out", work, "--cores", str(gen.nproc())], work, budget - 25)
        res = json.load(open(os.path.join(work, "result.json")))
        attempted, failed = res["attempted"], res["failed"]
        for e in res["errors"]:
            print(f"# error: {e}")
        correct = True
        if a.workload == "ingest_incremental":
            wrong = check_ingest(res, data)
            print(f"# ingest check: {res['batches'] - wrong}/{res['batches']}"
                  " batches match the brute-force restatement")
            failed = min(attempted, failed + wrong)
            correct = wrong == 0
        else:
            oracle = oracle_compare(data, os.path.join(work, "check"))
            for c in res["checks"]:
                q = c["step"]
                if q in oracle:
                    how = f"oracle={oracle[q]}"
                    err = "" if oracle[q].startswith("EXACT") else oracle[q]
                elif q in PROPERTY_CHECKS:
                    how = "restatement"
                    err = PROPERTY_CHECKS[q](os.path.join(work, "check", q),
                                             data) if c["ok"] else ""
                else:
                    how, err = "none", "no oracle and no restatement check"
                ok = c["ok"] and not err
                print(f"# check {q}: rows={c['rows']} hash={c['hash']} {how}"
                      + ("" if ok else f" FAILED {c['error'] or err}"))
                if not ok:
                    correct = False
                    failed += res["passes"]
            failed = min(attempted, failed)
        correct = correct and failed == 0
        print(f"# ops_failed_ratio: {failed / max(1, attempted):.4f} "
              f"({failed}/{attempted})")
        print("# unit seconds: " + " ".join(f"{x:.3f}" for x in
                                            res["pass_seconds"]))
        for k, v in sorted(res["step_seconds"].items()):
            print(f"# step {k}: {v:.3f} s")
        wanted = spec["per_layer" if a.trace else "end_to_end"]
        got = res["per_layer" if a.trace else "metrics"]
        metrics = {}
        for m in wanted:
            if m["name"] not in got:
                die(f"metric {m['name']} missing from the harness result")
            metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
            print(f"# {m['name']} = {got[m['name']]} {m['unit']}")
        if a.trace:
            keep = os.path.join(BUILD, "trace", a.workload)
            os.makedirs(keep, exist_ok=True)
            for f in ("spans.jsonl", "where_time_goes.md"):
                shutil.copy(os.path.join(work, f), keep)
            print(open(os.path.join(keep, "where_time_goes.md")).read())
            print(f"# spans: {os.path.relpath(keep, ROOT)}/spans.jsonl")
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
