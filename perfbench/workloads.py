"""The workloads.  Each drives the engine only through its public entry
points and records end-to-end samples, per-layer samples and checks.

Every workload times three kinds of operation:

- first: the first unit of work in a fresh process.  project_compile:
  compile the project in a fresh interpreter after importing the engine,
  as one `compile` CLI invocation does; the import is its set-up.
  incremental_update: a full refresh of the medallion project from an
  empty store in a fresh Spark session.
- work: project_compile: compile a freshly generated project from an
  empty `.lhp` cache.  incremental_update: one round (a drop lands and
  `run_many` folds it in).
- rerun: the same with (almost) nothing new.  project_compile: recompile
  after editing one flowgroup file.  incremental_update: a round in which
  nothing landed, i.e. the fixed per-round cost.
"""

from __future__ import annotations

import hashlib
import json
import os
import py_compile
import subprocess
import sys
import time

from probes import SparkWork, Tracer, self_times, yardsticks_s

HERE = os.path.dirname(os.path.abspath(__file__))

COMPILE_FLOWGROUPS = 400
MEDALLION_SF = 0.01
WARMUP_ROUNDS = 1
# a warm recompile is short and jittery, so each cold compile is followed
# by two of them
RERUNS_PER_COMPILE = 2
# compiles in a fresh interpreter per run, one per PYTHONHASHSEED value
FRESH_COMPILES = 6
# the host yardstick each host-scaled metric is scaled by: a cold compile,
# in or out of process, writes ~800 files, a warm recompile two
YARDSTICK = {"first_s": "files", "work_p50_s": "files", "rerun_p50_s": "cpu"}
# a run stops starting operations this long after it began, so it ends
# well inside the 180 s a run may take even on a slow host
DEADLINE_S = 120.0
# end-to-end metric of each operation kind
E2E = {"first": "first_s", "work": "work_p50_s", "rerun": "rerun_p50_s"}


class Samples:
    """Per-operation samples of one run, keyed by metric name."""

    def __init__(self):
        self.values: dict[str, list[float]] = {}

    def add(self, name: str, value: float) -> None:
        self.values.setdefault(name, []).append(value)


class Run:
    """State shared by one invocation: arguments, temp root, tracer, checks."""

    def __init__(self, seed: int, seconds: int, trace: bool, tmp: str, t0: float):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tmp = tmp
        self.t0 = t0
        self.tracer = Tracer(trace)
        self.e2e = Samples()
        self.layer = Samples()
        self.checks: list[tuple[str, bool, str]] = []
        self.ops = 0
        self.details: dict = {}
        self.window_start = 0.0
        self.window_ops = 0
        # host yardstick readings and timed samples, in the order taken
        self.timeline: list[tuple[str, object]] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def start_window(self) -> None:
        self.window_start = time.perf_counter()

    def more(self) -> bool:
        """Start another work/rerun pair?  At least one, then until the
        window has run `seconds`, and never past the deadline."""
        now = time.perf_counter()
        self.window_ops += 1
        if self.window_ops > 1 and now - self.t0 > DEADLINE_S:
            return False
        return self.window_ops == 1 or now - self.window_start < self.seconds

    def layer_adder(self, phase: str):
        """Per-layer samples of `first` and `rerun` operations are kept
        apart from those of `work`, under their phase as a prefix."""
        prefix = "" if phase == "work" else f"{phase}."
        return lambda name, value: self.layer.add(prefix + name, value)

    def read_host(self) -> None:
        """Time the host yardsticks, outside any operation's clock.  The
        syncs keep the yardsticks and the next operation from waiting on
        the write-back of files written before them."""
        os.sync()
        self.timeline.append(("host", yardsticks_s(self.path(f"yardstick_{len(self.timeline)}"))))
        os.sync()

    def add_time(self, metric: str, seconds: float) -> None:
        """A sample to be host-scaled: read the host before it, and once
        after the last such sample."""
        self.e2e.add(metric, seconds)
        self.timeline.append((metric, seconds))

    @property
    def host_s(self) -> list[dict[str, float]]:
        return [v for k, v in self.timeline if k == "host"]

    def scaled_times(self, ref_s: dict[str, float]) -> dict[str, list[float]]:
        """Every timed sample scaled by its yardstick's `ref_s` / the mean
        of that yardstick's readings right before and right after it."""
        out: dict[str, list[float]] = {}
        for i, (metric, seconds) in enumerate(self.timeline):
            if metric == "host":
                continue
            kind = YARDSTICK[metric]
            near = [v[kind] for k, v in reversed(self.timeline[:i]) if k == "host"][:1]
            near += [v[kind] for k, v in self.timeline[i + 1:] if k == "host"][:1]
            out.setdefault(metric, []).append(seconds * ref_s[kind] * len(near) / sum(near))
        return out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))


# ---------------------------------------------------------------------------
# project_compile


def _tree_hash(out_dir: str) -> str:
    h = hashlib.sha256()
    for fn in sorted(os.listdir(out_dir)):
        h.update(fn.encode() + b"\0")
        with open(os.path.join(out_dir, fn), "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()


def _tree_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir))


def compile_pass(project: str, out_dir: str, tokens: dict, tracer: Tracer, phase: str = "work") -> dict:
    """discover -> validate -> deps -> stages -> compile -> write the tree.
    Returns the pass's wall time and identity counts."""
    from lakehouse_plumber_spark import codegen, dag
    from lakehouse_plumber_spark.parsers import discover_flowgroups

    cache = os.path.join(project, ".lhp", "cache", "parse")

    def cached() -> int:
        return len(os.listdir(cache)) if os.path.isdir(cache) else 0

    cached_before = cached()
    t0 = time.perf_counter()
    with tracer.span("op", phase=phase):
        with tracer.span("spec.discover"):
            fgs = discover_flowgroups(project, tokens=tokens)
        with tracer.span("dag.validate"):
            for fg in fgs:
                dag.validate_flowgroup_graph(fg.actions)
        with tracer.span("dag.deps"):
            deps, _ = dag.cross_flowgroup_deps(fgs, project)
        with tracer.span("dag.stages"):
            stages = dag.execution_stages(deps, len(fgs))
        with tracer.span("codegen.compile"):
            results = [codegen.compile_flowgroup_result(fg, base_dir=project) for fg in fgs]
        with tracer.span("codegen.write"):
            os.makedirs(out_dir, exist_ok=True)
            files = skipped = 0
            for pipeline, flowgroup, src, err in results:
                if err is not None:
                    skipped += 1
                    continue
                dest = os.path.join(out_dir, f"{pipeline}__{flowgroup}.py")
                files += 1
                # change-aware, as the CLI's compile: unchanged files are not rewritten
                if os.path.exists(dest):
                    with open(dest) as f:
                        if f.read() == src:
                            continue
                with open(dest, "w") as f:
                    f.write(src)
    wall = time.perf_counter() - t0
    return {
        "wall": wall,
        "parse_cache.misses": cached() - cached_before,
        "spec.flowgroups": len(fgs),
        "spec.actions": sum(len(fg.actions) for fg in fgs),
        "dag.edges": sum(len(v) for v in deps.values()),
        "dag.stages": len(stages),
        "codegen.files": files,
        "codegen.skipped": skipped,
    }


def project_compile(run: Run) -> None:
    import yaml

    from projects import ENV, SECRET_ENV, edit_flowgroup, write_compile_project

    os.environ.update(SECRET_ENV)

    def fresh_project(name: str) -> tuple[str, str, list[str], dict]:
        """Write the project into a new directory.  Nothing is deleted
        until the run ends: re-creating just-deleted trees at the same path
        was measured to make every later file operation slower (system
        time grew from 0.04 s to 0.6 s per compile over 25 passes), and the
        generated tree does not depend on the project's path."""
        project, out_dir = run.path(f"project_{name}"), run.path(f"generated_{name}")
        paths = write_compile_project(project, run.seed, COMPILE_FLOWGROUPS)
        with open(os.path.join(project, "substitutions", f"{ENV}.yaml")) as f:
            return project, out_dir, paths, yaml.safe_load(f)[ENV]

    # a traced run starts Spark only to show that compiling runs no Spark
    # job, and to probe the host at the end
    spark = start_spark(run) if run.trace else None
    hashes: dict[str, set] = {}

    def compile_op(phase: str, project: str, out_dir: str, tokens: dict, edit: int = 0) -> None:
        run.read_host()
        run.ops += 1
        trace_id = run.tracer.new_trace()
        work = SparkWork(spark) if spark is not None else None
        r = compile_pass(project, out_dir, tokens, run.tracer, phase)
        run.add_time(E2E[phase], r["wall"])
        hashes.setdefault(f"edit{edit}", set()).add(_tree_hash(out_dir))
        _layer_sample(run, phase, trace_id, r, work)

    # warm-up: lazy imports, pydantic schema builds, template loading
    project, out_dir, paths, tokens = fresh_project("warmup")
    compile_pass(project, out_dir, tokens, Tracer(False))
    run.e2e.add("output_mb", _tree_bytes(out_dir) / 1e6)
    run.details["in_process_setup_s"] = time.perf_counter() - run.t0

    run.start_window()
    i = 0
    while run.more():
        project, out_dir, paths, tokens = fresh_project(str(i))
        i += 1
        compile_op("work", project, out_dir, tokens)
        # the developer loop: one mv_chain flowgroup (always the first file)
        # edited and recompiled
        for edit in range(1, RERUNS_PER_COMPILE + 1):
            edit_flowgroup(paths[0], edit)
            compile_op("rerun", project, out_dir, tokens, edit)
    # outside the window: the compile as a fresh `compile` process pays it
    # (engine imports, cold caches), under several string-hash seeds; the
    # generated tree must not depend on the seed.  The imports are this
    # workload's set-up, timed once per fresh process.
    run.check("tree_hash.stable_in_run", all(len(h) == 1 for h in hashes.values()),
              f"distinct hashes per edit: {[len(h) for h in hashes.values()]}")
    cold_hash = sorted(hashes["edit0"])[0]
    for hs in range(FRESH_COMPILES):
        project = fresh_project(f"hs{hs}")[0]
        run.read_host()
        child = subprocess.run(
            [sys.executable, os.path.join(HERE, "treehash.py"), project, run.path(f"gen_hs{hs}"), ENV],
            env={**os.environ, "PYTHONHASHSEED": str(hs)},
            stdout=subprocess.PIPE, text=True, timeout=60)
        run.ops += 1
        out = json.loads(child.stdout) if child.returncode == 0 else {"hash": ""}
        run.check(f"tree_hash.pythonhashseed_{hs}", out["hash"] == cold_hash,
                  f"child exit {child.returncode}, hash {out['hash'][:12]} vs {cold_hash[:12]}")
        if child.returncode == 0:
            run.e2e.add("setup_s", out["import_s"])
            run.add_time("first_s", out["compile_s"])
    bad = []
    checked = run.path("gen_hs0")
    for fn in sorted(os.listdir(checked)):
        try:
            py_compile.compile(os.path.join(checked, fn), cfile=run.path("check.pyc"), doraise=True)
        except py_compile.PyCompileError as e:
            bad.append(f"{fn}: {e.msg.splitlines()[0]}")
    run.read_host()
    run.check("generated.py_compile", not bad, "; ".join(bad[:3]))
    run.details["tree_hash"] = cold_hash
    if spark is not None:
        _finish_spark(run, spark)


def _layer_sample(run: Run, phase: str, trace_id: int, counts: dict, work: "SparkWork | None") -> None:
    if not run.trace:
        return
    add = run.layer_adder(phase)
    spans = [s for s in run.tracer.spans if s["trace"] == trace_id]
    selfs = self_times(spans)
    for name in ("spec.discover", "dag.validate", "dag.deps", "dag.stages",
                 "codegen.compile", "codegen.write"):
        add(f"{name}_s", selfs.get(name, 0.0))
    for k, v in counts.items():
        if k != "wall":
            add(k, v)
    if work is not None:
        w = work.take()
        for k in ("jobs", "stages", "tasks"):
            add(f"spark.{k}", w[k])


# ---------------------------------------------------------------------------
# Spark session, sized to this host


def spark_env(run: Run) -> dict:
    """Session sizing from the benchmark's own environment: one task thread
    per core, a driver heap well inside the host's memory, and every
    scratch/warehouse directory under the run's temp root."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_LOCAL_DIRS": run.path("spark-local"),
        "LHP_SPARK_WAREHOUSE": run.path("warehouse"),
        "LHP_STORE": "parquet",
        "TMPDIR": run.path("tmp"),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["LHP_SPARK_WAREHOUSE"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return env


def start_spark(run: Run):
    env = spark_env(run)
    os.environ.update(env)
    run.details["spark_env"] = {k: v.replace(run.tmp, "<run tmp>") for k, v in env.items()}
    from lakehouse_plumber_spark import get_spark

    spark = get_spark(
        "perfbench",
        **{
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": run.path("spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData "
                                             f"-Dderby.system.home={env['TMPDIR']}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _finish_spark(run: Run, spark) -> None:
    """A traced run reads the host state once, after its timed operations:
    run before them, the probe (a 1e9-row count and a 3,200-task job) would
    warm the JVM for the first operation in traced runs only."""
    if run.trace:
        import bench

        t = time.perf_counter()
        probe = bench.host_probe(spark)
        probe["probe_s"] = time.perf_counter() - t
        run.details["host_probe"] = probe
        run.layer.add("host.cpu_1e9_s", probe["cpu_1e9_sec"])
        run.layer.add("host.per_task_ms", probe["per_task_ms"])
    stop_spark(spark)


# ---------------------------------------------------------------------------
# incremental_update


OPERATOR_CATEGORIES = (
    "operators.load.cloudfiles", "operators.load.delta", "operators.transform.sql",
    "operators.transform.data_quality", "operators.transform.text",
    "operators.transform.dedup", "operators.transform.knn",
    "operators.write.streaming_table.append", "operators.write.streaming_table.cdc",
    "operators.write.materialized_view", "operators.test",
)


def action_category(action) -> str:
    """Operator category of an action, e.g. `operators.write.streaming_table.cdc`."""
    def v(x):
        return getattr(x, "value", x)

    t = v(action.type)
    if t == "load":
        return f"operators.load.{action.source.get('type') if isinstance(action.source, dict) else 'sql'}"
    if t == "transform":
        return f"operators.transform.{v(action.transform_type)}"
    if t == "write":
        wt = action.write_target
        if v(wt.type) == "streaming_table":
            mode = v(wt.mode)
            return f"operators.write.streaming_table.{'append' if mode == 'standard' else mode}"
        return f"operators.write.{v(wt.type)}"
    return f"operators.{t}"


class Medallion:
    """Landing zone + medallion project + discovered flowgroups: `all` for
    the full refresh, `incremental` for the flowgroups a drop feeds."""

    def __init__(self, run: Run, sf: float):
        import yaml

        from datagen import Landing
        from lakehouse_plumber_spark import dag
        from lakehouse_plumber_spark.parsers import discover_flowgroups
        from projects import ENV, INCREMENTAL, write_medallion_project

        self.landing = Landing(run.path("data"), run.seed, sf)
        self.landing.base()
        self.project = run.path("project")
        write_medallion_project(self.project, self.landing.path("land"))
        with open(os.path.join(self.project, "substitutions", f"{ENV}.yaml")) as f:
            tokens = yaml.safe_load(f)[ENV]
        self.all = discover_flowgroups(self.project, tokens=tokens)
        self.incremental = [fg for fg in self.all if f"{fg.pipeline}/{fg.flowgroup}" in INCREMENTAL]
        self.shape = {}
        for which, fgs in (("all", self.all), ("incremental", self.incremental)):
            deps, _ = dag.cross_flowgroup_deps(fgs, self.project)
            self.shape[which] = {
                "spec.flowgroups": len(fgs),
                "spec.actions": sum(len(fg.actions) for fg in fgs),
                "dag.edges": sum(len(v) for v in deps.values()),
                "dag.stages": len(dag.execution_stages(deps, len(fgs))),
            }

    def register_reference(self, spark) -> None:
        for name in self.landing.ref:
            spark.read.parquet(self.landing.path("ref", f"{name}.parquet")).createOrReplaceTempView(name)

    def runner(self, spark, root: str):
        from lakehouse_plumber_spark import PipelineRunner
        from lakehouse_plumber_spark.tables import new_store

        return PipelineRunner(spark, store=new_store(spark, root=root), base_dir=self.project)


class EngineTrace:
    """Outside-in spans for a traced Spark run: `PipelineRunner.run` on the
    runner instance, the dag helpers `run`/`run_many` look up, and every
    operator executor in the public registry.  Installed only when tracing."""

    def __init__(self, run: Run, spark):
        self.run = run
        self.work = SparkWork(spark)
        if not run.trace:
            return
        import lakehouse_plumber_spark.dag as dag_mod
        import lakehouse_plumber_spark.runner as runner_mod
        from lakehouse_plumber_spark.operators import REGISTRY

        tr = run.tracer
        tr.wrap(dag_mod, "cross_flowgroup_deps", "dag.deps")
        tr.wrap(dag_mod, "execution_stages", "dag.stages")
        tr.wrap(runner_mod, "validate_flowgroup_graph", "dag.validate")
        for key, fn in list(REGISTRY.items()):
            REGISTRY[key] = self._wrap_executor(fn)

    def _wrap_executor(self, fn):
        tr = self.run.tracer

        def traced(ctx, action):
            with tr.span(action_category(action)):
                return fn(ctx, action)

        return traced

    def attach(self, runner) -> None:
        self.run.tracer.wrap(runner, "run", "runner.run",
                             attrs=lambda fg, *a, **k: {"flowgroup": f"{fg.pipeline}/{fg.flowgroup}"})

    def op(self, phase: str, runner, med: Medallion, which: str, root: str) -> float:
        """One timed `run_many` over `med.all` or `med.incremental`; in a
        traced run also its per-layer sample."""
        run = self.run
        flowgroups = getattr(med, which)
        run.ops += 1
        trace_id = run.tracer.new_trace()
        if run.trace:
            before = _file_index(root)
            self.work.take()
        n_log = len(runner.event_log)
        t0 = time.perf_counter()
        with run.tracer.span("op", phase=phase):
            with run.tracer.span("runner.run_many"):
                runner.run_many(flowgroups)
        wall = time.perf_counter() - t0
        run.e2e.add(E2E[phase], wall)
        if run.trace:
            add = run.layer_adder(phase)
            for k, v in med.shape[which].items():
                add(k, v)
            self._sample(add, trace_id, runner, n_log, wall, root, before, med.landing.bytes_landed())
        return wall

    def _sample(self, add, trace_id, runner, n_log, wall, root, before, landed_bytes):
        run = self.run
        spans = [s for s in run.tracer.spans if s["trace"] == trace_id]
        selfs = self_times(spans)
        for name in ("dag.validate", "dag.deps", "dag.stages"):
            add(f"{name}_s", selfs.get(name, 0.0))
        add("runner.run_s", sum(s["end"] - s["start"] for s in spans if s["name"] == "runner.run"))
        for cat in OPERATOR_CATEGORIES:
            add(f"{cat}_s", sum(s["end"] - s["start"] for s in spans if s["name"] == cat))
        logged = sum(e["details"].get("seconds", 0.0) for e in runner.event_log[n_log:]
                     if e["event"] == "action_completed")
        add("runner.self_s", wall - logged)
        per_fg: dict[str, float] = {}
        for s in spans:
            if s["name"] == "runner.run":
                per_fg[s["flowgroup"]] = per_fg.get(s["flowgroup"], 0.0) + s["end"] - s["start"]
        run.details.setdefault("runner_run_s_per_flowgroup", []).append(per_fg)
        w = self.work.take()
        for k in ("jobs", "stages", "tasks"):
            add(f"spark.{k}", w[k])
        run.details["spark_jobs_lost"] = run.details.get("spark_jobs_lost", 0) + w["lost"]
        after = _file_index(root)
        add("streaming.batches", _commits(after) - _commits(before))
        add("streaming.checkpoint_files", sum(1 for p in after if _CKPT in p))
        add("tables.bytes_written", sum(v[2] for p, v in after.items() if before.get(p) != v))
        add("tables.data_files", sum(1 for p in after if _CKPT not in p and p.endswith(".parquet")))
        add("tables.write_amp", sum(v[2] for v in after.values()) / landed_bytes)


_CKPT = f"{os.sep}_checkpoints{os.sep}"


def _file_index(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (inode, mtime, size) of every file under `root`."""
    idx = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            idx[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return idx


def _commits(index: dict) -> int:
    """Streaming commit-log entries: one per completed micro-batch."""
    return sum(1 for p in index if _CKPT in p and os.path.basename(os.path.dirname(p)) == "commits"
               and os.path.basename(p).isdigit())


def _dir_bytes(root: str) -> int:
    return sum(v[2] for v in _file_index(root).values())


def incremental_update(run: Run) -> None:
    """A full refresh from an empty store in a fresh session (the first
    operation), then rounds: a seeded drop lands and `run_many` folds it
    into the streaming, quarantine, SCD2 and MV targets."""
    from oracle import check_medallion

    spark = start_spark(run)
    engine = EngineTrace(run, spark)
    med = Medallion(run, MEDALLION_SF)
    med.register_reference(spark)
    root = run.path("warehouse", "medallion")
    runner = med.runner(spark, root)
    engine.attach(runner)

    first = engine.op("first", runner, med, "all", root)
    # measured after the refresh, so it does not depend on how many rounds fit the window
    run.e2e.add("output_mb", _dir_bytes(root) / 1e6)
    t = time.perf_counter()
    for name, ok, detail in check_medallion(runner.store, med.landing, full=True):
        run.check(f"refresh.{name}", ok, detail)
    check_s = time.perf_counter() - t
    run.tracer.new_trace()  # warm-up spans belong to no sampled operation
    for k in range(1, WARMUP_ROUNDS + 1):
        med.landing.drop(k)
        runner.run_many(med.incremental)
    run.e2e.add("setup_s", time.perf_counter() - run.t0 - first - check_s)

    k = WARMUP_ROUNDS
    # host readings for the record only: the yardstick does not follow the
    # engine's JVM threads, so these times are not scaled
    run.read_host()
    run.start_window()
    while run.more():
        k += 1
        med.landing.drop(k)
        engine.op("work", runner, med, "incremental", root)
        engine.op("rerun", runner, med, "incremental", root)
    run.read_host()
    for name, ok, detail in check_medallion(runner.store, med.landing, full=True):
        run.check(f"final.{name}", ok, detail)
    _finish_spark(run, spark)


WORKLOADS = {
    "project_compile": project_compile,
    "incremental_update": incremental_update,
}
