#!/usr/bin/env python3
"""Layered MiniGQL benchmark: builds the engine, runs one seeded workload
and checks every operation's result against a DuckDB oracle.

Usage (from the repository root):
  python3 perfbench/run.py --workload <read_mix|graph_analytics>
      --seed <n> --seconds <s> --trace <0|1>
      [--master local[4]] [--shuffle-partitions 4] [--aqe true]

The first run in a checkout compiles the engine with the harness
(perfbench/build.sbt), generates the dataset and builds the lineitem id
store; later runs reuse them. Everything is written under perfbench/.work.

Each run starts one JVM; setup_s is its cold set-up, timed from its main
entry.

Standard output ends with one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The line before it is the full report: every metric with its sample
count, the error rate, the host's cores, memory and load at start, and
any failing operations.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SCALE = "0.001"
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_digest(paths) -> str:
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs
                           if f.endswith(".scala"))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def stamped(name: str, digest: str, make) -> None:
    """Run `make` unless the stamp `name` already records `digest`."""
    stamp = os.path.join(WORK, name + ".stamp")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                return
    make()
    with open(stamp, "w") as fh:
        fh.write(digest)


def spark_home() -> str:
    """SPARK_HOME, or the installation that holds `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build() -> None:
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL,
                            env=dict(os.environ, SPARK_HOME=spark_home())).returncode
    if rc != 0:
        fail(f"build failed (rc {rc}); see {log}")


def gen_data(data: str) -> None:
    tmp = data + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    sys.path.insert(0, HERE)
    import datagen
    datagen.write(tmp, float(SCALE))
    shutil.rmtree(data, ignore_errors=True)
    os.rename(tmp, data)


def jvm(args, out: str, deadline: float) -> None:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    cp = os.path.join(HERE, "target", "scala-2.13", "classes") + os.pathsep + \
        os.path.join(spark_home(), "jars", "*")
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args + ["--out", out])
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # also on SIGTERM (see main): never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc is None:
        fail(f"harness exceeded {RUN_TIMEOUT_S}s; see {log}")
    if rc != 0:
        with open(log) as fh:
            tail = fh.read()[-2000:]
        fail(f"harness failed (rc {rc}); see {log}\n{tail}")


def arrow_type(pa, name: str):
    if name.startswith("array<") and name.endswith(">"):
        return pa.list_(arrow_type(pa, name[6:-1]))
    return {"bigint": pa.int64(), "int": pa.int32(), "smallint": pa.int16(),
            "tinyint": pa.int8(), "double": pa.float64(), "float": pa.float32(),
            "boolean": pa.bool_()}.get(name, pa.string())


def check(out: str, data: str) -> dict:
    """Write each distinct operation's collected result as parquet and hash-
    compare it with its oracle through the repository's tools/check.py."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    chk = os.path.join(out, "check")
    shutil.rmtree(chk, ignore_errors=True)
    os.makedirs(chk)
    res_dir = os.path.join(out, "results")
    for f in os.listdir(res_dir):
        with open(os.path.join(res_dir, f)) as fh:
            r = json.load(fh)
        schema = pa.schema([(n, arrow_type(pa, t)) for n, t in r["columns"]])
        cols = list(zip(*r["rows"])) if r["rows"] else [[] for _ in r["columns"]]
        table = pa.table([pa.array(list(c), type=schema.field(i).type)
                          for i, c in enumerate(cols)], schema=schema)
        d = os.path.join(chk, "op" + f[:-len(".json")])
        os.makedirs(d)
        pq.write_table(table, os.path.join(d, "part.parquet"))
    shutil.copy(os.path.join(out, "oracle_sql.json"), os.path.join(chk, "oracle_sql.json"))
    tally = os.path.join(out, "tally.json")
    with open(os.path.join(out, "check.log"), "w") as fh:
        subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        "--json", tally, chk, data],
                       stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if not os.path.exists(tally):
        fail(f"oracle check produced no tally; see {os.path.join(out, 'check.log')}")
    with open(tally) as fh:
        return json.load(fh)["queries"]


def host() -> dict:
    mem = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) // 1024
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem,
            "loadavg": list(os.getloadavg()), "steal_s": steal_s()}


def steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot, in seconds:
    its growth over a run shows contention from outside the machine."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["read_mix", "graph_analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--shuffle-partitions", default="4")
    ap.add_argument("--aqe", default="true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    env_at_start = host()

    for need in ("src/main/scala/graft", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the engine")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    os.makedirs(WORK, exist_ok=True)

    build_digest = tree_digest([os.path.join(ROOT, "src", "main", "scala"),
                                os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")])
    stamped("build", build_digest, build)
    data = os.path.join(WORK, "data")
    data_digest = tree_digest([os.path.join(HERE, "datagen.py")]) + SCALE
    stamped("data", data_digest, lambda: gen_data(data))
    pinned = ["--master", a.master, "--shuffle-partitions", a.shuffle_partitions, "--aqe", a.aqe,
              "--data", data]
    # untimed prepare: the one-time distributed sort that numbers lineitems
    # (the engine may change how the id store is keyed, so rerun on rebuild)
    stamped("prepare", build_digest + data_digest,
            lambda: jvm(["--setup-only", "1"] + pinned, os.path.join(WORK, "prepare"),
                        time.monotonic() + RUN_TIMEOUT_S))

    deadline = time.monotonic() + RUN_TIMEOUT_S
    out = os.path.join(WORK, "last", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace)] + pinned, out, deadline)

    with open(os.path.join(out, "report.json")) as fh:
        report = json.load(fh)
    verdict = check(out, data)
    failures = []
    for op in report["ops"]:
        why = op["error"]
        if why is None and not op["consistent"]:
            why = "result differs from an earlier run of the same operation"
        if why is None and not verdict.get(f"op{op['result']}", {}).get("ok", False):
            why = "oracle mismatch: " + verdict.get(f"op{op['result']}", {}).get("status", "?")
        if why is not None:
            failures.append({"op": op["id"], "name": op["name"], "why": why})
    attempted = len(report["ops"])
    metrics = report["metrics"]
    full = dict(metrics)
    if not a.trace:
        full["error_rate"] = {"value": len(failures) / max(1, attempted), "unit": "ratio",
                              "n": attempted}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "host": env_at_start,
                      "steal_s_during_run": round(steal_s() - env_at_start["steal_s"], 2),
                      "passes": report["passes"], "metrics": full,
                      "failures": failures[:20], "artifacts": os.path.relpath(out, ROOT)}))
    print(json.dumps({"correct": not failures and attempted > 0, "attempted": attempted,
                      "failed": len(failures),
                      "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                                  for k, v in sorted(metrics.items())}}))


if __name__ == "__main__":
    main()
