"""Outside-in probes: spans, Spark work counts and host yardsticks.

Nothing here reaches inside the engine.  Spans wrap the engine's public
calls from the benchmark's side; Spark work is read from the driver's
status store; the yardsticks run no engine code.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import pydantic
import yaml


class Tracer:
    """In-memory spans: (trace id, span id, parent id, name, start, end).

    Spans of one operation (a compile pass, a refresh, a round) share the
    trace id.  Nothing is written until `spans` is read at the end of the
    run.  A disabled tracer records nothing and costs one branch per span.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace = 0

    def new_trace(self) -> int:
        self._trace += 1
        return self._trace

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"trace": self._trace, "id": sid,
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, obj, method: str, name: str, attrs=None) -> None:
        """Replace `obj.method` on the instance by a span-recording wrapper,
        so calls made by the engine's own code (run_many -> run) are seen."""
        if not self.enabled:
            return
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name, **(attrs(*args, **kwargs) if attrs else {})):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: a span's duration minus the part of
    it its children cover (children of one parent never overlap here: the
    engine is called from one thread)."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
    out: dict[str, float] = {}
    for s in spans:
        d = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + max(d, 0.0)
    return out


class SparkWork:
    """Jobs, stages and tasks run between two readings, from the driver's
    status store.  Streaming micro-batches run on the query's own thread
    under their own job group, so the count lists every job of the
    application rather than the caller's group.  Job ids are dense, so the
    job count is exact even past the status store's retention cap; stages
    and tasks of a job evicted before it was read are counted in `lost`."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.seen = self._max_job_id()

    def _max_job_id(self) -> int:
        # the status store lists jobs newest first
        jobs = self.sc._jsc.sc().statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def take(self) -> dict[str, int]:
        """Work since the previous call."""
        top = self._max_job_id()
        jobs = stages = tasks = lost = 0
        for jid in range(self.seen + 1, top + 1):
            jobs += 1
            info = self.status.getJobInfo(jid)
            if info is None:
                lost += 1
                continue
            for sid in info.stageIds:
                st = self.status.getStageInfo(sid)
                if st is None:
                    continue
                # a stage skipped because its shuffle output exists ran no tasks
                if st.numCompletedTasks or st.numActiveTasks or st.numFailedTasks:
                    stages += 1
                    tasks += st.numTasks
        self.seen = top
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "lost": lost}


# ---------------------------------------------------------------------------
# host speed


def _yard_spec(i: int) -> dict:
    return {"pipeline": f"p{i}", "flowgroup": f"f{i}", "actions": [
        {"name": f"a{j}", "type": "transform", "sql": f"SELECT * FROM t{i} WHERE x > {j}",
         "write_target": {"type": "materialized_view", "catalog": "main", "schema": "s",
                          "table": f"t{i}_{j}"}}
        for j in range(3)]}


class _Target(pydantic.BaseModel):
    type: str
    catalog: str
    schema_: str = pydantic.Field(alias="schema")
    table: str


class _Action(pydantic.BaseModel):
    name: str
    type: str
    sql: str
    write_target: _Target


class _FlowGroup(pydantic.BaseModel):
    pipeline: str
    flowgroup: str
    actions: list[_Action]


def _yard_source(fg: _FlowGroup) -> str:
    return "\n".join(f"def {a.name}(spark):\n    return spark.sql({a.sql!r})\n" for a in fg.actions)


def yardsticks_s(scratch: str) -> dict[str, float]:
    """Seconds two fixed tasks take on the host right now.  Both are
    miniatures of the compile path that run nothing of the engine, so a
    change to the engine does not move them; only the host's speed does.

    - `cpu`: parse 40 YAML flowgroup documents in memory, validate them
      with pydantic and compile a Python function per action.
    - `files`: the same for 80 flowgroups that are first written as YAML
      files and read back, with the Python source written to a file per
      flowgroup and read back.  It follows the file-system slowdowns that
      hit a compile writing hundreds of files and leave `cpu` unmoved.

    `scratch` must not exist yet."""
    docs = [yaml.safe_dump(_yard_spec(i), sort_keys=False) for i in range(80)]
    t = time.perf_counter()
    for doc in docs[:40]:
        fg = _FlowGroup.model_validate(yaml.safe_load(doc))
        compile(_yard_source(fg), f"{fg.flowgroup}.py", "exec")
    cpu = time.perf_counter() - t
    t = time.perf_counter()
    os.makedirs(scratch)
    for i, doc in enumerate(docs):
        with open(os.path.join(scratch, f"f{i}.yaml"), "w") as f:
            f.write(doc)
    for i in range(len(docs)):
        with open(os.path.join(scratch, f"f{i}.yaml")) as f:
            fg = _FlowGroup.model_validate(yaml.safe_load(f))
        py = os.path.join(scratch, f"{fg.flowgroup}.py")
        with open(py, "w") as f:
            f.write(_yard_source(fg))
        with open(py) as f:
            compile(f.read(), py, "exec")
    return {"cpu": cpu, "files": time.perf_counter() - t}
