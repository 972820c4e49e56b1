"""Layer spans for the traced run.

A span records (name, start, end, parent, op id) plus the counters measured
at its boundary. Every span sets its own Spark job group, so the task
metrics Spark writes to the session's event log (task CPU, shuffle bytes,
spill) are attributed to the span afterwards. Spans are kept in memory and
written out when the run ends.

`instrument_pipeline` wraps the layer functions `run_pipeline` calls and
`CheckpointStore.materialize`, so the traced op runs the program's own
stage graph and forces each stage's output (persist or checkpoint, then
count) in the order `run_pipeline` builds them.
"""

from __future__ import annotations

import contextlib
import glob
import json
import time
from dataclasses import asdict, dataclass, field

from lsh_for_source_code_spark.plans import pipeline

# functions run_pipeline calls -> layer; a call builds the layer's plan and
# runs whatever jobs the layer runs eagerly
LAYER_OF_CALL = {
    "with_file_id": "plans.pipeline.s0_ids",
    "shingle_files": "functions.tokenize",
    "sign_files": "functions.minhash",
    "band_files": "operators.banding",
    "candidate_pairs": "operators.candidates",
    "verify_pairs": "operators.verify",
    "connected_components": "operators.components",
}
# CheckpointStore stage -> layer; materializing a stage forces its output
LAYER_OF_STAGE = {
    "files_shingled": "functions.tokenize",
    "exact_dup_edges": "plans.pipeline.s2_exact",
    "signatures": "functions.minhash",
    "bands": "operators.banding",
    "candidate_pairs": "operators.candidates",
    "verified_pairs": "operators.verify",
    "clusters": "operators.components",
}


@dataclass
class Span:
    name: str
    phase: str
    op_id: str
    parent: str | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.op_id}/{self.name}/{self.phase}"

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, probe):
        self.sc = spark.sparkContext
        self.probe = probe
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, phase: str, op_id: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, phase, op_id, parent.name if parent else None, time.monotonic())
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        w0 = self.probe.workers_cpu_s()
        try:
            yield s
        finally:
            s.counters["pyworker_cpu_s"] = self.probe.workers_cpu_s() - w0
            s.end = time.monotonic()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    self.sc.setLocalProperty(key, None)
            self.spans.append(s)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{**asdict(s), "wall_s": s.wall_s} for s in self.spans], f, indent=1)


@contextlib.contextmanager
def instrument_pipeline(tracer: Tracer, op_id: str):
    """Span every layer call and stage materialization `run_pipeline` makes;
    restore the originals on exit."""
    originals = {name: getattr(pipeline, name) for name in LAYER_OF_CALL}
    orig_mat = pipeline.CheckpointStore.materialize

    def wrap(name, fn):
        def call(*a, **kw):
            with tracer.span(LAYER_OF_CALL[name], "build", op_id):
                return fn(*a, **kw)

        return call

    def materialize(store, name, df, *a, **kw):
        layer = LAYER_OF_STAGE.get(name, f"plans.pipeline.{name}")
        with tracer.span(layer, "force", op_id) as s:
            out = orig_mat(store, name, df, *a, **kw)
            s.counters["rows_out"] = out.count()
            return out

    for name, fn in originals.items():
        setattr(pipeline, name, wrap(name, fn))
    pipeline.CheckpointStore.materialize = materialize
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(pipeline, name, fn)
        pipeline.CheckpointStore.materialize = orig_mat


def task_metrics_by_group(event_dir: str) -> dict[str, dict]:
    """job group -> {task_cpu_s, shuffle_write_mb, spill_mb, jobs}, read from
    the event log(s) a stopped session left in `event_dir`."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(group):
        return out.setdefault(
            group, {"task_cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "jobs": 0}
        )

    # a session writes one file, or a directory of rolled files
    for path in sorted(glob.glob(f"{event_dir}/**/events_*", recursive=True)) or glob.glob(
        f"{event_dir}/*"
    ):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        acc(group)["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    a = acc(group)
                    a["task_cpu_s"] += tm["Executor CPU Time"] / 1e9
                    a["shuffle_write_mb"] += (
                        tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                    )
                    a["spill_mb"] += tm["Disk Bytes Spilled"] / 2**20
    return out
