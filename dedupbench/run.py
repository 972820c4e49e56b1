#!/usr/bin/env python3
"""Dedup benchmark: seeded inputs, a closed loop of checked ops, one JSON line.

    python3 dedupbench/run.py --workload batch_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root. One client drives `local[4]` from this
process: the next op starts only after the previous one's result is
collected and checked. `--trace 0` prints the end-to-end metrics, `--trace 1`
the per-layer metrics of a separate traced op (see README.md). The last line
of standard output is the result object; progress goes to standard error.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUPS = 3  # session starts per run; setup_s takes their median
# Warm-up ops run on small corpora of the same mix: a cold op is mostly JIT
# and code generation, which small inputs trigger as well as large ones at a
# fraction of the interpreted run time.
WARMUP_FILES = (300,)
WORKLOADS = {
    # in-memory run_pipeline: every stage persisted, nothing written
    "batch_mixed": {"n_files": 1000, "checkpoint": False},
    # run_pipeline into a fresh checkpoint directory per op
    "batch_checkpointed": {"n_files": 750, "checkpoint": True},
}
# program settings read from the environment; unset so every run sees defaults
_PROGRAM_ENV = (
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_BROADCAST_THRESHOLD",
    "SPARK_GRAFT_SHJ",
    "SPARK_GRAFT_GC",
    "SPARK_GRAFT_REFINE_PERSIST",
    "SPARK_DRIVER_MEMORY",
)


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def isolate(work: str) -> None:
    """Keep every file the engine writes under `work`."""
    for k in _PROGRAM_ENV:
        os.environ.pop(k, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def workload_corpora(workload: str, seed: int) -> list:
    """The workload's main corpus, then its warm-up corpora."""
    import corpus_gen

    return [corpus_gen.generate(WORKLOADS[workload]["n_files"], seed)] + [
        corpus_gen.generate(n, seed, stream=k + 1) for k, n in enumerate(WARMUP_FILES)
    ]


class Input:
    """One generated corpus, its parquet copy, and the digest its ops repeat."""

    def __init__(self, corpus, path: str):
        self.corpus = corpus
        self.path = path
        corpus.files.to_parquet(path, index=False)
        self.df = None  # registered with the current session
        self.digest = None
        self.recall = None


class Run:
    def __init__(self, args, work: str):
        from lsh_for_source_code_spark.config import PipelineConfig

        import corpus_gen

        self.args = args
        self.work = work
        self.spec = WORKLOADS[args.workload]
        self.cfg = PipelineConfig()
        corpora = workload_corpora(args.workload, args.seed)
        self.input_digest = corpus_gen.input_digest(corpora)
        self.main, *self.warm = [
            Input(c, os.path.join(work, f"corpus{k}.parquet")) for k, c in enumerate(corpora)
        ]
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    # -- session --------------------------------------------------------
    def start_session(self) -> None:
        from lsh_for_source_code_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.args.trace:
            os.makedirs(os.path.join(self.work, "events"), exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + os.path.join(self.work, "events")
            conf["spark.eventLog.compress"] = "false"
        self.spark = get_spark(
            app_name="dedupbench",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf=conf,
        )

    def stop_session(self) -> None:
        from lsh_for_source_code_spark.caching import release_all

        if self.spark is not None:
            release_all()
            self.spark.stop()
            self.spark = None

    def setup(self) -> float:
        """Median of SETUPS (session start + input registration); the first
        also launches the JVM."""
        walls = []
        for _ in range(SETUPS):
            self.stop_session()
            t0 = time.monotonic()
            self.start_session()
            for inp in (self.main, *self.warm):
                inp.df = self.spark.read.parquet(inp.path)
                inp.df.count()
            walls.append(time.monotonic() - t0)
        log("setup walls", [round(w, 3) for w in walls])
        return statistics.median(walls)

    # -- one op -----------------------------------------------------------
    def pipeline(self, i: int, inp: Input):
        from lsh_for_source_code_spark.plans.pipeline import run_pipeline

        ckpt = self.ckpt_dir(i) if self.spec["checkpoint"] else None
        return run_pipeline(self.spark, inp.df, self.cfg, checkpoint_dir=ckpt)

    def ckpt_dir(self, i: int) -> str:
        return os.path.join(self.work, "ckpt", f"op{i}")

    def finish_op(self, i: int) -> None:
        from lsh_for_source_code_spark.caching import release_all

        release_all()
        shutil.rmtree(self.ckpt_dir(i - 1), ignore_errors=True)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)

    def timed_op(self, i: int, inp: Input, probe) -> tuple[float, float, float]:
        """One op: run_pipeline forced by collecting its outputs, then checked.
        Returns wall s, engine CPU s, and memory held at the op's end (MiB)."""
        snap = probe.snapshot()
        t0 = time.monotonic()
        self.attempted += 1
        try:
            out = self.pipeline(i, inp)
            verified, clusters = collect(out)
        except Exception as e:  # an op that raises counts as failed
            self.fail(f"op {i} raised {type(e).__name__}: {e}")
            self.finish_op(i)
            return time.monotonic() - t0, probe.cpu_since(snap)[0], 0.0
        wall = time.monotonic() - t0
        cpu, jit = probe.cpu_since(snap)
        mem = probe.live_mem_mb(self.spark._jvm)  # before the op's caches are released
        try:
            errs = self.check(out, verified, clusters, inp)
        except Exception as e:  # output the checks cannot read is wrong output
            errs = [f"check raised {type(e).__name__}: {e}"]
        for e in errs:
            self.problems.append(f"op {i}: {e}")
        if errs:
            self.failed += 1
        self.finish_op(i)
        log(f"op {i}: {len(inp.corpus.files)} files, wall {wall:.3f}s cpu {cpu:.2f}s "
            f"jit {jit:.2f}s mem {mem:.1f}MiB", "FAILED" if errs else "ok")
        return wall, cpu, mem

    def check(self, out, verified, clusters, inp: Input) -> list[str]:
        """Full output check of an input's first op; later ops on the same
        input must repeat its digest."""
        import checks

        digest = checks.output_digest(verified, clusters)
        if inp.digest is not None:
            return [] if digest == inp.digest else [f"digest {digest[:12]} != {inp.digest[:12]}"]
        inp.digest = digest
        ids = self.id_map(inp)
        sh = out["files_shingled"].select("file_id", "shingles").toPandas()
        sets = {int(f): set(s.tolist()) for f, s in zip(sh["file_id"], sh["shingles"])}
        theta = self.cfg.jaccard_threshold
        content_hash = [hashlib.sha256(c.encode()).hexdigest() for c in inp.corpus.files["content"]]
        errs = checks.check_pairs(verified, sets, theta)
        errs += checks.check_clusters(clusters, verified, ids, content_hash)
        if errs:
            return errs
        strata = checks.truth_recall(
            clusters, ids, inp.corpus.family, inp.corpus.family_id, sets, theta
        )
        inp.recall = sum(f for f, _ in strata.values()) / sum(t for _, t in strata.values())
        log("truth pairs (found, total)", strata, "verified", len(verified))
        return [
            f"truth recall {name} {f}/{t} < 0.99"
            for name, (f, t) in strata.items()
            if t and f / t < 0.99
        ]

    def id_map(self, inp: Input):
        """file_id of every input row, in input order, from the natural key
        with Spark's built-in xxhash64 (the documented id of `with_file_id`)."""
        from pyspark.sql import functions as F

        pdf = inp.df.select(F.xxhash64("repo", "path", "commit").alias("file_id"), "path").toPandas()
        row = {p: j for j, p in enumerate(inp.corpus.files["path"])}
        return pdf.assign(row=pdf["path"].map(row)).sort_values("row")["file_id"].to_numpy()

    def resume_check(self, i: int) -> None:
        """Re-running on op i's finished directory resumes every stage and
        returns the same digest (untimed)."""
        import checks
        from lsh_for_source_code_spark.caching import release_all

        self.attempted += 1
        try:
            out = self.pipeline(i, self.main)
            verified, clusters = collect(out)
        except Exception as e:
            self.fail(f"resume raised {type(e).__name__}: {e}")
            return
        errs = [
            f"stage {e['stage']} {e['action']} on resume"
            for e in out["_store"].log
            if e["action"] != "resumed"
        ]
        if checks.output_digest(verified, clusters) != self.main.digest:
            errs.append("resumed digest differs")
        release_all()
        if errs:
            self.fail("resume: " + "; ".join(errs))


def collect(out):
    """The op's result: verified pairs and clusters as int64 arrays."""
    verified = out["verified_pairs"].select("id_a", "id_b").toPandas().to_numpy()
    clusters = out["clusters"].select("file_id", "cluster_id").toPandas().to_numpy()
    return verified, clusters


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    # fails here, before any process starts, when the program is absent
    import lsh_for_source_code_spark.plans.pipeline  # noqa: F401

    work_root = os.path.join(ROOT, ".dedupbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    run = None
    try:
        isolate(work)
        run = Run(args, work)
        result = measure(run, args)
    finally:
        if run is not None:
            run.stop_session()
        stop_engine()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(work_root)
    print(json.dumps(result))
    return 0


def stop_engine() -> None:
    """End the JVM this process launched and every process below it (the
    pyspark daemon and its workers), and wait until each has exited. The JVM
    exits when its standard input closes; left to interpreter exit, that
    would happen after this process is gone."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    from procstat import descendants, stop_all

    engine = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        with contextlib.suppress(Py4JError, OSError):  # the JVM may already be gone
            gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
    left = stop_all(engine)
    if proc is not None:
        with contextlib.suppress(subprocess.TimeoutExpired):
            proc.wait(timeout=5)  # reap it
    if left:
        log("processes still running after stop:", left)


def measure(run: Run, args) -> dict:
    from procstat import EngineProbe

    log(f"{args.workload} seed {args.seed}: {len(run.main.corpus.files)} files, "
        f"input digest {run.input_digest}")
    expected = _recorded_digest(args.workload, args.seed)
    if expected and expected != run.input_digest:
        run.problems.append(f"input digest differs from the recorded {expected}")

    setup_s = run.setup()
    probe = EngineProbe(run.spark._jvm.java.lang.ProcessHandle.current().pid())
    warm_t0 = time.monotonic()
    for i, inp in enumerate(run.warm):  # JIT, code generation, worker start
        run.timed_op(i, inp, probe)
    _settle_jit(probe)
    setup_s += time.monotonic() - warm_t0
    log(f"setup_s {setup_s:.3f}")

    walls, cpus, mems = [], [], []
    i = len(run.warm)
    t0 = time.monotonic()
    while time.monotonic() - t0 < args.seconds:
        w, c, m = run.timed_op(i, run.main, probe)
        walls.append(w)
        cpus.append(c)
        mems.append(m)
        i += 1
    log(f"op walls {[round(w, 3) for w in walls]} cpu {[round(c, 2) for c in cpus]}")

    traced = None
    if args.trace:
        traced = traced_op(run, probe, i)
        i += 1
    if run.spec["checkpoint"]:
        run.resume_check(i - 1)
    run.stop_session()

    for p in run.problems:
        log("PROBLEM:", p)
    result = {
        "correct": not run.problems and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
    }
    op_wall = statistics.median(walls)
    if args.trace:
        result["metrics"] = layer_metrics(run, traced, op_wall)
        return result
    m = {
        "setup_s": (setup_s, "s"),
        "op_wall_s": (op_wall, "s"),
        "files_per_s": (len(run.main.corpus.files) / op_wall, "files/s"),
        "op_cpu_s": (statistics.median(cpus), "s"),
        "live_mem_mb": (max(mems), "MiB"),
        "truth_recall": (run.main.recall or 0.0, "ratio"),
    }
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    return result


def _settle_jit(probe, limit_s: float = 10.0) -> None:
    """Wait until the JIT compiler threads go idle, so compilation queued by
    the warm-up does not run inside the first timed op."""
    t0 = time.monotonic()
    prev = probe.jit_cpu_s()
    while time.monotonic() - t0 < limit_s:
        time.sleep(0.5)
        now = probe.jit_cpu_s()
        if now - prev < 0.05:
            break
        prev = now
    log(f"jit settled after {time.monotonic() - t0:.2f}s")


# layer span -> metrics the traced run reports for it
LAYER_METRICS = {
    "plans.pipeline.s0_ids": ("wall_s", "task_cpu_s", "jobs"),
    "functions.tokenize": ("wall_s", "task_cpu_s", "pyworker_cpu_s", "rows_out"),
    "plans.pipeline.s2_exact": ("wall_s", "rows_out", "shuffle_write_mb"),
    "functions.minhash": ("wall_s", "task_cpu_s", "pyworker_cpu_s", "rows_out"),
    "operators.banding": ("wall_s", "rows_out", "shuffle_write_mb"),
    "operators.candidates": (
        "wall_s", "task_cpu_s", "rows_out", "shuffle_write_mb", "spill_mb", "jobs",
    ),
    "operators.verify": (
        "wall_s", "task_cpu_s", "rows_out", "shuffle_write_mb", "spill_mb", "pass_ratio",
    ),
    "operators.components": ("wall_s", "jobs", "rows_out"),
}
UNITS = {
    "wall_s": "s", "task_cpu_s": "s", "pyworker_cpu_s": "s", "materialize_s": "s",
    "overhead_s": "s", "rows_out": "count", "jobs": "count", "files": "count",
    "shuffle_write_mb": "MiB", "spill_mb": "MiB", "written_mb": "MiB",
    "pass_ratio": "ratio", "span_coverage": "ratio",
}


def traced_op(run: Run, probe, i: int):
    """One op with every layer spanned and forced; must repeat the digest."""
    import checks
    import spans

    tracer = spans.Tracer(run.spark, probe)
    op_id = f"op{i}"
    run.attempted += 1
    try:
        with tracer.span("op", "", op_id):
            with spans.instrument_pipeline(tracer, op_id):
                out = run.pipeline(i, run.main)
            with tracer.span("result.collect", "force", op_id):
                verified, clusters = collect(out)
    except Exception as e:  # an op that raises counts as failed
        run.fail(f"traced op raised {type(e).__name__}: {e}")
        run.finish_op(i)
        return None
    if checks.output_digest(verified, clusters) != run.main.digest:
        run.fail("traced op digest differs from the untraced ops")
    ckpt = {"materialize_s": 0.0, "written_mb": 0.0, "files": 0}
    if run.spec["checkpoint"]:
        ckpt["materialize_s"] = sum(
            e["wall_s"] for e in out["_store"].log if e["action"] == "computed"
        )
        for d, _, names in os.walk(run.ckpt_dir(i)):
            ckpt["files"] += len(names)
            ckpt["written_mb"] += sum(os.path.getsize(os.path.join(d, n)) for n in names) / 2**20
    run.finish_op(i)
    out_dir = os.path.join(ROOT, ".dedupbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{run.args.workload}-seed{run.args.seed}.json")
    tracer.write(path)
    print(f"spans written to {os.path.relpath(path, ROOT)}")
    return tracer, ckpt


def layer_metrics(run: Run, traced, untraced_wall: float) -> dict:
    """Per-layer metrics of the traced op, from its spans and the event log
    of the stopped session. Layers the op did not run read 0."""
    import spans

    vals = {f"{layer}.{m}": 0.0 for layer, ms in LAYER_METRICS.items() for m in ms}
    vals.update(
        {f"plans.pipeline.checkpoint.{m}": 0.0 for m in ("materialize_s", "written_mb", "files")}
    )
    vals.update({"tracing.overhead_s": 0.0, "tracing.span_coverage": 0.0})
    if traced is not None:
        tracer, ckpt = traced
        groups = spans.task_metrics_by_group(os.path.join(run.work, "events"))
        top = next(s for s in tracer.spans if s.name == "op")
        children = [s for s in tracer.spans if s.parent == "op"]
        layers: dict[str, dict] = {}
        for s in children:  # a layer's build and force spans add up
            row = layers.setdefault(s.name, {})
            for k, v in {"wall_s": s.wall_s, **s.counters, **groups.get(s.group, {})}.items():
                row[k] = row.get(k, 0) + v
        for name, row in layers.items():
            for m in LAYER_METRICS.get(name, ()):
                if m in row:
                    vals[f"{name}.{m}"] = row[m]
            log(f"layer {name}: " + " ".join(f"{k}={v:.3f}" for k, v in sorted(row.items())))
        n_cand = layers.get("operators.candidates", {}).get("rows_out")
        n_ver = layers.get("operators.verify", {}).get("rows_out")
        if n_cand:
            vals["operators.verify.pass_ratio"] = n_ver / n_cand
            log(f"verify pass ratio: {n_ver} verified / {n_cand} candidates")
        vals.update({f"plans.pipeline.checkpoint.{k}": v for k, v in ckpt.items()})
        vals["tracing.overhead_s"] = top.wall_s - untraced_wall
        vals["tracing.span_coverage"] = sum(s.wall_s for s in children) / top.wall_s
    return {k: {"value": v, "unit": UNITS[k.rsplit(".", 1)[1]]} for k, v in vals.items()}


def _recorded_digest(workload: str, seed: int) -> str | None:
    with open(os.path.join(HERE, "input_digests.json")) as f:
        return json.load(f).get(workload, {}).get(str(seed))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
