"""KG-construction benchmark.

    python3 perfbench/run.py --workload kg_repeat --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1   # each workload untraced, then traced

One run of one workload: generate its inputs from the seed in a child
process and write them to parquet; start Spark in a new JVM (``setup_s``);
warm up with one ``run_production`` call on a small corpus; then repeat
fresh ``run_production`` builds into an empty directory for about
``--seconds`` (at least one) and gate the output against the sequential
oracle and the seed-stability check on the workload properties. With
``--trace 1`` the run also crashes half the buckets and resumes, runs the
graph layer on the built graph, and prints the per-layer metrics instead
of the end-to-end ones. The last stdout line is one JSON object;
perfbench/README.md defines every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import layers
from spans import StatusStore

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

WORKLOADS = {
    # name: (generator, timed conversations, link_mode)
    "kg_repeat": ("stock", 2000, "inline"),
    "kg_novel_salted": ("novel", 400, "salted"),
}
WARM_CONVS = 16
GATE_CONVS = 48
N_BUCKETS = 16

END_TO_END = {
    "setup_s": "s",
    "build_turns_per_s": "turns/s",
}


def _identity(it):
    return it


def _memtotal_gb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


class Run:
    """One benchmark run of one workload; owns its work directory."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.corpus, self.n_convs, self.link_mode = WORKLOADS[workload]
        self.cores = len(os.sched_getaffinity(0))
        self.n_buckets = N_BUCKETS
        self.work = ROOT / ".bench_work" / f"{workload}-{seed}-{os.getpid()}"
        self.attempted = 0
        self.failed = 0
        self.gate_log: list[str] = []
        self.metrics: dict[str, float] = {}
        self.settings: dict[str, object] = {}
        self.spark = None
        self.tracer = None
        self._t_phase = time.perf_counter()

    # ---------------------------------------------------------- environment

    def configure(self) -> dict[str, str]:
        """Box-sized deployment settings. Everything the JVM and the Python
        workers write stays inside the checkout, so Spark's local directory
        is on disk there rather than at the package default, /dev/shm."""
        tmp = self.work / "tmp"
        local = self.work / "spark-local"
        for d in (tmp, local):
            d.mkdir(parents=True, exist_ok=True)
        mem_gb = _memtotal_gb()
        driver_mem = f"{max(1, min(4, mem_gb // 4))}g"
        os.environ["SPARK_DRIVER_MEM"] = driver_mem
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
        os.environ["TMPDIR"] = str(tmp)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        conf = {
            "spark.local.dir": str(local),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        self.settings = {
            "master": f"local[{self.cores}]",
            "SPARK_DRIVER_MEM": driver_mem,
            "MemTotal_gb": mem_gb,
            "spark.local.dir": ".bench_work/ (disk inside the checkout, not the package default /dev/shm)",
            "timed_convs": self.n_convs,
            "link_mode": self.link_mode,
        }
        return conf

    def gen_inputs(self) -> dict:
        out = self.work / "inputs"
        subprocess.run(
            [sys.executable, str(HERE / "gen.py"), "--corpus", self.corpus,
             "--convs", str(self.n_convs), "--warm-convs", str(WARM_CONVS),
             "--gate-convs", str(GATE_CONVS), "--seed", str(self.seed), "--out", str(out)],
            check=True,
        )
        with open(out / "meta.json") as f:
            return json.load(f)

    def steal(self) -> float:
        """Host-steal ratio with one busy-loop process per core."""
        from openie_with_entities_spark import noise

        r = noise.measure_steal(procs=self.cores, waves=1, repeats=2)
        self.settings.setdefault("steal", []).append(round(r.ratio, 3))
        return r.ratio

    def start_session(self, conf: dict[str, str]) -> float:
        """Launch a JVM, start the session and the Python worker pool."""
        from openie_with_entities_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=conf)
        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(n, numPartitions=n).mapInPandas(_identity, "id long").count()
        return time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid  # spark-submit execs the JVM in place
        with open(f"/proc/{jvm_pid}/comm") as f:
            if f.read().strip() != "java":
                raise RuntimeError(f"pid {jvm_pid} is not the JVM")
        return _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)

    # ---------------------------------------------------------------- gates

    def phase(self, name: str) -> None:
        now = time.perf_counter()
        print(f"phase {name} {now - self._t_phase:.2f}s", file=sys.stderr)
        self._t_phase = now

    def gate(self, name: str, passed: bool, detail: str) -> None:
        self.attempted += 1
        if not passed:
            self.failed += 1
        self.gate_log.append(f"{'PASS' if passed else 'FAIL'} {name}: {detail}")

    # ------------------------------------------------------------ workload

    def warm_up(self, transcripts, alias, out_dir: Path) -> None:
        """One ``run_production`` call on a small corpus: the first call in a
        JVM is much slower than later ones (README.md, "Warm-up")."""
        self.run_production(transcripts, alias, out_dir, "warmup")
        shutil.rmtree(out_dir)

    def run_production(self, transcripts, alias, out_dir: Path, span: str):
        from openie_with_entities_spark.plans.production import run_production

        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span(span) if self.tracer else contextlib.nullcontext():
            res = run_production(self.spark, transcripts, alias, str(out_dir),
                                 n_buckets=N_BUCKETS, link_mode=self.link_mode)
        return res, time.perf_counter() - t0

    def execute(self) -> None:
        conf = self.configure()
        meta = self.gen_inputs()
        self.phase("gen")
        steal_before = self.steal() if self.trace else None
        import pyspark.sql  # noqa: F401  driver-side imports are not set-up time
        import openie_with_entities_spark.session  # noqa: F401

        setup_s = self.start_session(conf)
        self.phase("setup")
        if self.trace:
            self.tracer = layers.install()
        spark = self.spark
        inp = self.work / "inputs"
        transcripts = spark.read.parquet(str(inp / "transcripts"))
        alias = spark.read.parquet(str(inp / "alias"))
        self.warm_up(spark.read.parquet(str(inp / "warm_transcripts")),
                     spark.read.parquet(str(inp / "warm_alias")), self.work / "warm")
        self.phase("warmup")

        out_dir = self.work / "out"
        builds, steal = [], []
        t_start = time.time()
        while True:
            shutil.rmtree(out_dir, ignore_errors=True)
            j0 = _cpu_jiffies()
            res, build_s = self.run_production(transcripts, alias, out_dir, "build")
            delta = [b - a for a, b in zip(j0, _cpu_jiffies())]
            builds.append(build_s)
            steal.append(round(delta[7] / max(sum(delta), 1), 3))  # host steal share
            if time.time() - t_start + build_s > self.seconds:
                break
        t_end = time.time()
        self.phase("builds")

        import gates

        ok, detail = gates.oracle_gate(res.triples, [tuple(t) for t in meta["sample_turns"]], meta["alias"])
        self.gate("oracle_sample", ok, detail)
        self.gate("seed_properties", *gates.seed_gate(meta))
        self.metrics = {
            "setup_s": setup_s,
            "build_turns_per_s": meta["n_turns"] / statistics.median(builds),
        }
        self.settings.update(n_turns=meta["n_turns"],
                             builds_s=[round(b, 3) for b in builds], builds_steal_share=steal)
        if self.trace:
            self.metrics = layers.per_layer(self, res, transcripts, alias, out_dir, meta, t_start, t_end)
        jobs = StatusStore(spark).jobs()
        self.attempted += sum(j.tasks for j in jobs)
        self.failed += sum(j.failed_tasks for j in jobs)
        self.phase("gates")
        rss = self.peak_rss_mb()
        self.shutdown()
        self.phase("shutdown")
        self.settings["peak_rss_mb"] = round(rss, 1)
        if self.trace:
            self.metrics["host.peak_rss_mb"] = rss
            self.metrics["host.steal_ratio"] = max(steal_before, self.steal())
            trace_dir = ROOT / ".bench_work" / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            self.tracer.dump(str(trace_dir / f"{self.workload}-{self.seed}.json"))


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    run = Run(workload, seed, seconds, trace)
    error = None
    try:
        run.execute()
    except Exception:  # one failed run is reported, not raised
        error = traceback.format_exc()
        run.attempted += 1
        run.failed += 1
        print(error, file=sys.stderr)
    finally:
        if run.spark is not None:
            run.shutdown()
        shutil.rmtree(run.work, ignore_errors=True)
    for line in run.gate_log:
        print(line)
    print("settings " + json.dumps(run.settings))
    units = {**END_TO_END, **layers.UNITS}
    for name, value in run.metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    print(f"failed_op_ratio {run.failed / max(run.attempted, 1):.6g} ({run.failed}/{run.attempted})")
    print(json.dumps({
        "correct": error is None and run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in run.metrics.items()},
    }))
    return 0 if error is None else 1


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced then traced, each in its own process; prints
    the tracing overhead (traced minus untraced)."""
    summary, rc = {}, 0
    for w in WORKLOADS:
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, str(Path(__file__).resolve()), "--workload", w, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", str(trace)],
                stdout=subprocess.PIPE, text=True,
            )
            sys.stdout.write(out.stdout)
            rc |= out.returncode
            summary[(w, trace)] = json.loads(out.stdout.strip().splitlines()[-1])
        untraced, traced = summary[(w, 0)]["metrics"], summary[(w, 1)]["metrics"]
        if "build_turns_per_s" in untraced and "trace.build_turns_per_s" in traced:
            diff = traced["trace.build_turns_per_s"]["value"] - untraced["build_turns_per_s"]["value"]
            print(f"{w} tracing_overhead build_turns_per_s {diff:+.6g} turns/s (traced minus untraced)")
    print(json.dumps({f"{w}/trace{t}": r for (w, t), r in summary.items()}))
    return rc


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    if not (ROOT / "openie_with_entities_spark" / "__init__.py").is_file():
        print("perfbench: package openie_with_entities_spark not found next to perfbench/", file=sys.stderr)
        return 2
    if a.workload == "all":
        return run_all(a.seed, a.seconds)
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
