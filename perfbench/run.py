"""graft benchmark: one workload, one seed, one JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), makes the fixture
(perfbench/gen_data.py, then graft.tools.ScaleGen for the scaled corpus),
checks every query of the workload once against DuckDB running its
oracle SQL (perfbench/oracle.py; the verified result digests are kept
per build and fixture), then runs the workload (perfbench.PerfBench) and
prints one JSON line: correct, attempted, failed and the metrics, the
end-to-end ones with --trace 0 and the per-layer ones with --trace 1.
The full record, with the per-query executions and the environment
stamp, is written under .bench_build/perfbench/records.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import fixture  # noqa: E402
import gen_data  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
BASE_SF = 0.01
CORPUS_SF = 0.1
CORPUS_FACTOR = 5
CORPUS_TABLES = ["documents", "embeddings"]
# content checksums (fixture.checksum) of the inputs the reference
# figures in perfbench/README.md were measured on
PINNED = {
    "base": "9834ba1744ab9ec36c5fa7e180ae0bb1d878da8c1121f4e31a92b6ba7acaabc0",
    "corpus_src": "36b2559ff2d4016939e1ce53656e7397db9502defc5c7646cd5dfe8ea4e40645",
    "corpus": "ea20b664f8608fe800d3a788095f06f0708eda87fa654692f5d36f8759b2177a",
}
# workload -> fixture it reads
WORKLOADS = {
    "graph_sf001": "base",
    "corpus_scaled": "corpus",
    "selftest": "base",
}
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _spec = json.load(_f)
END_TO_END = [m["name"] for m in _spec["end_to_end"]]
PER_LAYER = [m["name"] for m in _spec["per_layer"]]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio "
        "java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch "
        "sun.nio.cs sun.security.action sun.util.calendar").split()]


def slots():
    return min(os.cpu_count() or 1, 4)


def java(main, *args):
    """A JVM command on the built classpath whose scratch files stay in WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *ADD_OPENS, "-Xmx4g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-cp", build.classpath(), main, *map(str, args)]


def call(cmd, log_name, timeout=JVM_TIMEOUT_S, env=None):
    """Run cmd to completion (its output to a log file), killing its whole
    process group if it outlives `timeout`."""
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    with open(os.path.join(WORK, "logs", log_name), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if rc != 0:
        sys.exit(f"perfbench: exit code {rc}; see {log.name}")


def fixture_for(kind):
    """(dir, checksum) of the 'base' or the 'corpus' fixture, made or
    checked first."""
    gen_src = [os.path.join(ROOT, "perfbench", "gen_data.py")]
    scale_src = gen_src + [os.path.join(ROOT, "src", "main", "scala", "graft", "tools",
                                        "ScaleGen.scala")]
    if kind == "base":
        base = os.path.join(WORK, "data", f"base_sf{BASE_SF}")
        return base, fixture.ensure(base, lambda d: gen_data.main(d, BASE_SF),
                                    fixture.key(gen_src, BASE_SF), PINNED["base"])
    corpus_src = os.path.join(WORK, "data", f"corpus_sf{CORPUS_SF}")
    corpus = os.path.join(WORK, "data", f"corpus_sf{CORPUS_SF}_x{CORPUS_FACTOR}")

    def scale(out):
        fixture.ensure(corpus_src, lambda d: gen_data.main(d, CORPUS_SF, CORPUS_TABLES),
                       fixture.key(gen_src, CORPUS_SF, CORPUS_TABLES), PINNED["corpus_src"])
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(slots()))
        call(java("graft.tools.ScaleGen", corpus_src, out, CORPUS_FACTOR,
                  ",".join(CORPUS_TABLES)), "scalegen.log", timeout=600, env=env)
        for t in CORPUS_TABLES:
            for junk in os.listdir(os.path.join(out, f"{t}.parquet")):
                if not junk.endswith(".parquet"):
                    os.remove(os.path.join(out, f"{t}.parquet", junk))
    return corpus, fixture.ensure(
        corpus, scale, fixture.key(scale_src, CORPUS_SF, CORPUS_TABLES, CORPUS_FACTOR),
        PINNED["corpus"])


def expected_digests(workload, data_dir, data_sum, stamp):
    """Oracle-verified result digests of the workload's queries for this
    build and fixture, computed on first use."""
    path = os.path.join(WORK, "expected", f"{workload}-{stamp[:16]}-{data_sum[:16]}.tsv")
    if not os.path.exists(path):
        dump = os.path.join(WORK, "verify", workload)
        shutil.rmtree(dump, ignore_errors=True)
        os.makedirs(dump)
        call(java("perfbench.PerfBench", "verify", workload, data_dir, dump),
             f"verify-{workload}.log", timeout=900)
        with open(os.path.join(WORK, "logs", f"oracle-{workload}.log"), "w") as log:
            verified = oracle.check(dump, data_dir, data_sum,
                                    os.path.join(WORK, "oracle_cache"), log)
        shutil.rmtree(dump)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            for name, digest in verified.items():
                f.write(f"{name}\t{digest}\n")
        os.replace(path + ".tmp", path)
    return path


def steal_s():
    """CPU seconds the machine's hypervisor gave to other guests so far
    (the steal column of /proc/stat), or None where it is not reported."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main():
    # a terminated run still kills its JVM (see call)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    stamp = build.build()
    data_dir, data_sum = fixture_for(WORKLOADS[a.workload])
    expected = expected_digests(a.workload, data_dir, data_sum, stamp)

    out = os.path.join(WORK, "last-run.json")
    if os.path.exists(out):
        os.remove(out)
    steal0 = steal_s()
    t_spawn = time.time()
    call(java("perfbench.PerfBench", "run", a.workload, data_dir, a.seed, a.seconds,
              a.trace, expected, out), f"run-{a.workload}.log")
    elapsed = time.time() - t_spawn
    steal = None if steal0 is None else steal_s() - steal0
    with open(out) as f:
        rec = json.load(f)

    metrics = {m["name"]: m for m in rec.pop("metrics")}
    metrics["setup_s"] = {"value": rec["setup_end_epoch_ms"] / 1000.0 - t_spawn,
                          "unit": "s"}
    wanted = PER_LAYER if a.trace else END_TO_END
    statuses = {e["status"] for e in rec["executions"] if e["pass"] > 0}
    rec.update(
        env={"nproc": os.cpu_count(), "slots": rec["slots"], "jvm": rec["jvm"],
             "git_sha": git_sha(), "source_stamp": stamp, "seed": a.seed,
             "fixture": {"dir": os.path.relpath(data_dir, ROOT), "checksum": data_sum},
             "base_sf": BASE_SF, "corpus_sf": CORPUS_SF, "corpus_factor": CORPUS_FACTOR,
             "stolen_cpu_share": None if steal is None else
             steal / (elapsed * (os.cpu_count() or 1))},
        metrics={n: {"value": m["value"], "unit": m["unit"]} for n, m in metrics.items()})
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(t_spawn)}.json")
    with open(rec_path, "w") as f:
        json.dump(rec, f, indent=1)
    print(f"record: {rec_path}", file=sys.stderr)
    print(json.dumps({
        "correct": "wrong_result" not in statuses,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {n: {"value": metrics[n]["value"], "unit": metrics[n]["unit"]}
                    for n in wanted},
    }))


if __name__ == "__main__":
    main()
