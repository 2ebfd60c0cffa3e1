"""The workloads. Each is a closed loop with one driver: an operation
starts only after the previous one returned.

* ``cdc_tail``: an operation is one ``CdcPipeline.apply_epoch`` of a
  10k-event epoch (8 buckets, change feed on) followed by one
  ``replicate`` catch-up of a replica.
* ``batch_ops``: an operation is one Catalyst expansion and one Arrow
  expansion of the example rows (the reference's 9-column config), one
  ``decode_debezium`` -> ``write_envelope_changes`` of Debezium
  envelopes, and ``minhash_lsh_pairs(verify="exact")`` over a seeded
  2,000-document sample of the sf0.1 documents table. No SnapTable is
  touched.

Only the engine calls inside an operation are timed. Correctness checks,
table digests and clean-up run between operations, untimed.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager, nullcontext

from pyspark.sql import functions as F

import embulk_filter_expand_json_spark.operators.dedup_text as dedup_text
import embulk_filter_expand_json_spark.operators.expand as expand_mod
import embulk_filter_expand_json_spark.sources.envelopes as envelopes
import embulk_filter_expand_json_spark.streaming.pipeline as pipeline_mod
import embulk_filter_expand_json_spark.streaming.replicate as replicate_mod
from embulk_filter_expand_json_spark.streaming.pipeline import CdcPipeline
from embulk_filter_expand_json_spark.streaming.snaptable import SnapTable

import digest
import inputs
from tracing import SparkProbe, Tracer, duration

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "layers.json")) as _f:
    LAYERS = json.load(_f)


def declared_metrics(root: str) -> dict:
    """The metric names and units BENCHMARK.json declares; every one must
    have its annotation in layers.json (what it measures, which workloads
    it is measured on)."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out = {kind: [(m["name"], m["unit"]) for m in bench[kind]] for kind in ("end_to_end", "per_layer")}
    missing = [n for kind in out for n, _ in out[kind] if n not in LAYERS[kind]]
    if missing:
        raise RuntimeError(f"metrics without an annotation in layers.json: {missing}")
    return out


def emit(specs: list, values: dict, workload: str = "") -> dict:
    """Metrics line entries for the declared ``(name, unit)`` specs. A
    per-layer metric of a layer the workload never calls (not in its
    annotation's ``on``) reads 0; any other missing value is an error."""
    out = {}
    for name, unit in specs:
        if name not in values:
            note = LAYERS["per_layer"].get(name, {})
            if not workload or workload in note.get("on", [workload]):
                raise RuntimeError(f"no value for declared metric {name} on {workload or 'this run'}")
        out[name] = {"value": float(values.get(name, 0.0)), "unit": unit}
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _wall(r: dict) -> float:
    """Timed seconds of one operation (keys starting with _ are counters)."""
    return sum(v for k, v in r.items() if not k.startswith("_"))


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return total


class Workload:
    """Set-up, warm-up, the timed loop and the result line.

    Subclasses define ``build`` (the repeatable part of set-up: fresh
    tables, input frames), ``op`` (one timed operation: returns
    ``{call: seconds}`` and raises on failure) and ``finish`` (final
    correctness checks: returns the number that failed)."""

    name = ""
    #: set-up builds per run; set-up time takes their median
    builds = 3
    #: untimed warm-up operations. The first runs cold (codegen, JIT,
    #: Python workers) and the second was still 10-20% slower than later
    #: ones; with it timed, a run's median depended on whether 2 or 3
    #: operations fit in the loop. A fixed count keeps every run at the
    #: same point of the curve; the diagnostics report first-half vs
    #: second-half medians of the timed operations.
    warm_ops = 2

    def __init__(self, spark, work, run_dir, args, mem, declared):
        self.spark = spark
        self.work = work
        self.run_dir = run_dir
        self.args = args
        self.mem = mem
        self.declared = declared
        self.seed = args.seed
        self.failed = 0
        self.attempted = 0
        self.notes: list = []
        self.tracer = Tracer(f"{self.name}-{args.seed}-{os.getpid()}")
        self.probe = SparkProbe(spark)
        self.traced = False
        self.counters: dict = {}

    # -- hooks --------------------------------------------------------------
    def build(self, k: int):
        raise NotImplementedError

    def discard(self, state) -> None:
        pass

    def op(self, state) -> dict:
        raise NotImplementedError

    def finish(self, state) -> int:
        return 0

    def layer_metrics(self, untraced: list, traced_ops: list) -> dict:
        return {}

    # -- timing helpers -----------------------------------------------------
    def call(self, label: str, fn):
        """Time one engine call; in traced operations it also runs under
        its own job group and span, with Spark counters attached."""
        if not self.traced:
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0
        with self.tracer.span(f"call.{label}") as rec:
            with self.probe.group(label) as stats:
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
            rec["attrs"]["spark"] = stats
        return out, dt

    def run_op(self, state) -> dict:
        self.attempted += 1
        try:
            return self.op(state)
        except Exception as e:  # a failed operation is counted, not fatal
            self.failed += 1
            self.notes.append(f"op {self.attempted} raised {type(e).__name__}: {e}"[:500])
            return {}

    # -- the run ------------------------------------------------------------
    def execute(self, t_process: float, t_session: float) -> dict:
        self.meta = inputs.load(self.work, self.name, self.seed)
        build_s, state = [], None
        for k in range(self.builds):
            if state is not None:
                self.discard(state)
            t = time.perf_counter()
            state = self.build(k)
            build_s.append(time.perf_counter() - t)

        t = time.perf_counter()
        warm = []
        for _ in range(self.warm_ops):
            self.pre_op(state)
            r = self.run_op(state)
            self.after_op(state, r)
            warm.append(_wall(r))
        warm_s = time.perf_counter() - t

        setup_s = (t_session - t_process) + _median(build_s) + warm_s
        untraced, traced_ops = [], []
        #: (traced?, wall) of each operation in order; None for a failed one
        self.sequence: list = []
        n_ops = 0
        gc0 = self.probe.gc_s()
        t_loop = time.perf_counter()
        while not self.exhausted(state) and (
            time.perf_counter() - t_loop < self.args.seconds
            # a traced run has at least one traced operation between two
            # untraced ones, so the tracing overhead has both neighbours
            or (self.args.trace and n_ops < 3)
        ):
            self.traced = bool(self.args.trace) and n_ops % 2 == 1
            n_ops += 1
            self.pre_op(state)
            with self.traced_op() if self.traced else nullcontext():
                r = self.run_op(state)
            self.after_op(state, r)
            if r:
                (traced_ops if self.traced else untraced).append(r)
            self.sequence.append((self.traced, _wall(r)) if r else None)
        self.traced = False
        loop_s = time.perf_counter() - t_loop
        gc_s = self.probe.gc_s() - gc0
        if self.args.trace:
            self.extra_traced_calls(state)
        self.failed += self.finish(state)

        walls = [_wall(r) for r in untraced]
        diag = {
            "workload": self.name,
            "seed": self.seed,
            "build_s": build_s,
            "warm_ops_s": warm,
            "setup_s": setup_s,
            "timed_ops": len(untraced),
            "traced_ops": len(traced_ops),
            "loop_s": loop_s,
            "gc_s": gc_s,
            "op_s_halves": self._halves(walls),
            "per_call_p50_s": {
                k: _median([r[k] for r in untraced if k in r])
                for k in (untraced[0] if untraced else {})
                if not k.startswith("_")
            },
            "notes": self.notes,
        }
        if self.args.trace:
            metrics = self._layer_result(untraced, traced_ops)
            os.makedirs(os.path.join(self.work, "traces"), exist_ok=True)
            path = os.path.join(self.work, "traces", f"{self.tracer.run_id}.json")
            self.tracer.dump(path)
            diag["trace_file"] = path
        else:
            # completed with peak memory and emitted by the caller
            metrics = {"setup_s": setup_s, "op_p50_s": _median(walls)}
        attempted = max(self.attempted, 1)
        return {
            "correct": self.failed == 0 and bool(untraced),
            "attempted": attempted,
            "failed": self.failed,
            "metrics": metrics,
            "diagnostics": diag,
        }

    @staticmethod
    def _halves(xs):
        h = len(xs) // 2
        if not h:
            return [_median(xs)] * 2
        return [_median(xs[:h]), _median(xs[h:])]

    def exhausted(self, state) -> bool:
        return False

    def pre_op(self, state) -> None:
        """Runs before each operation, untimed and untraced."""

    def after_op(self, state, r: dict) -> None:
        """Runs after each operation (``r`` is empty when it failed),
        untimed and untraced: correctness checks, counters, clean-up."""

    def extra_traced_calls(self, state) -> None:
        pass

    # -- tracing ------------------------------------------------------------
    @contextmanager
    def traced_op(self):
        """One traced operation: wrappers installed for its duration only,
        an ``op`` span around it, JVM GC time attached."""
        self.install()
        try:
            with self.tracer.span("op") as rec:
                gc0 = self.probe.gc_s()
                try:
                    yield
                finally:
                    rec["attrs"]["gc_s"] = self.probe.gc_s() - gc0
        finally:
            self.tracer.uninstall()

    def install(self) -> None:
        t = self.tracer

        def merge_result(rec, out):
            rec["attrs"]["result"] = {
                k: out.get(k)
                for k in ("files_written", "files_rewritten", "buckets_touched", "timings")
            }

        def epoch_result(rec, out):
            rec["attrs"]["invalid"] = out.invalid

        t.wrap(CdcPipeline, "apply_epoch", "pipeline.apply", epoch_result)
        t.wrap(SnapTable, "merge", "snaptable.merge", merge_result)
        t.wrap(SnapTable, "manifest", "snaptable.manifest")
        t.wrap(SnapTable, "read_changes", "snaptable.read_changes")
        t.wrap(replicate_mod, "replicate", "replicate.catchup")
        t.wrap(envelopes, "decode_debezium", "envelopes.decode")
        t.wrap(envelopes, "write_envelope_changes", "envelopes.write")
        t.wrap(pipeline_mod, "expand_json", "expand.build")
        t.wrap(expand_mod, "expand_json", "expand.build")
        t.wrap(dedup_text, "minhash_lsh_pairs", "neardup.pairs")

    def _layer_result(self, untraced: list, traced_ops: list) -> dict:
        """Per-layer metrics from the spans: every span lies inside one of
        the traced operations, so totals divide by their number."""
        t = self.tracer
        op_spans = t.named("op")
        n = max(len(op_spans), 1)

        def total(name, fn=duration, within=None):
            return sum(fn(x) for x in t.named(name, within)) / n

        calls = [c for op in op_spans for c in t.children(op) if c["name"].startswith("call.")]
        spark_tot = {}
        for c in calls:
            for k, v in c["attrs"].get("spark", {}).items():
                spark_tot[k] = spark_tot.get(k, 0) + v
        op_wall = sum(duration(c) for c in calls)
        cores = self.spark.sparkContext.defaultParallelism

        def merge_attr(path):
            def get(x):
                v = x["attrs"].get("result", {})
                for p in path:
                    v = (v or {}).get(p)
                return float(v or 0)

            return get

        m = {
            "pipeline.apply_s": total("pipeline.apply"),
            "pipeline.self_s": total("pipeline.apply", t.self_time),
            "snaptable.merge_s": total("snaptable.merge", within="pipeline.apply"),
            "snaptable.merge_self_s": total(
                "snaptable.merge", t.self_time, within="pipeline.apply"
            ),
            "snaptable.manifest_calls": total("snaptable.manifest", lambda x: 1.0),
            "snaptable.manifest_s": total("snaptable.manifest"),
            "snaptable.read_changes_s": total("snaptable.read_changes"),
            "replicate.catchup_s": total("replicate.catchup"),
            "replicate.self_s": total("replicate.catchup", t.self_time),
            "envelopes.decode_s": total("envelopes.decode") + total("envelopes.write"),
            "expand.build_ms": 1000.0 * total("expand.build"),
            "jvm.gc_s": sum(o["attrs"].get("gc_s", 0.0) for o in op_spans) / n,
            "trace.overhead_s": self._overhead(),
        }
        for phase in ("stage", "decide", "rewrite", "publish"):
            m[f"snaptable.{phase}_s"] = total(
                "snaptable.merge", merge_attr(["timings", f"{phase}_sec"]), "pipeline.apply"
            )
        for k in ("files_written", "files_rewritten", "buckets_touched"):
            m[f"snaptable.{k}"] = total("snaptable.merge", merge_attr([k]), "pipeline.apply")
        for k in ("jobs", "stages", "tasks", "task_s", "shuffle_write_bytes", "spill_bytes"):
            m[f"spark.{k}"] = spark_tot.get(k, 0) / n
        m["spark.core_busy_ratio"] = (
            spark_tot.get("task_s", 0.0) / (op_wall * cores) if op_wall else 0.0
        )
        m.update(self.layer_metrics(untraced, traced_ops))
        return emit(self.declared["per_layer"], m, self.name)

    def _overhead(self) -> float:
        """Median over traced operations of (its wall - the mean wall of
        the untraced operations just before and after it). Taking both
        neighbours cancels a trend in operation cost, such as a table
        that grows epoch by epoch."""
        seq = self.sequence
        diffs = []
        for i, x in enumerate(seq):
            if x is None or not x[0]:
                continue
            near = [
                seq[j][1]
                for j in (i - 1, i + 1)
                if 0 <= j < len(seq) and seq[j] is not None and not seq[j][0]
            ]
            if near:
                diffs.append(x[1] - sum(near) / len(near))
        return _median(diffs)


# ---------------------------------------------------------------- cdc_tail


class CdcTail(Workload):
    name = "cdc_tail"

    def build(self, k: int):
        """A fresh table and a replica bootstrapped on it while it is still
        empty; the first epochs (the table's first load) are warm-up."""
        d = os.path.join(self.run_dir, f"tail-{k}")
        pipe = CdcPipeline(
            self.spark,
            self.meta["paths"]["log"],
            os.path.join(d, "table"),
            num_buckets=self.meta["buckets"],
            changelog=True,
        )
        replica = os.path.join(d, "replica")
        replicate_mod.replicate(self.spark, pipe.table, replica)
        return {"dir": d, "pipe": pipe, "replica": replica, "next": 0}

    def discard(self, state) -> None:
        shutil.rmtree(state["dir"], ignore_errors=True)

    def exhausted(self, state) -> bool:
        return state["next"] >= self.meta["epochs"]

    def op(self, state) -> dict:
        pipe, e = state["pipe"], state["next"]
        state["next"] = e + 1
        m, commit_s = self.call("commit", lambda: pipe.apply_epoch(e))
        if m.skipped:
            raise RuntimeError(f"epoch {e} skipped as already committed")
        r, repl_s = self.call(
            "replicate",
            lambda: replicate_mod.replicate(self.spark, pipe.table, state["replica"]),
        )
        if not r.get("applied_versions"):
            raise RuntimeError(f"replica did not catch up after epoch {e}: {r}")
        return {"commit": commit_s, "replicate": repl_s}

    def pre_op(self, state) -> None:
        if self.traced:
            state["bytes"] = _dir_bytes(state["pipe"].table.path)
            state["applied"] = SnapTable(self.spark, state["replica"]).manifest()[
                "last_committed_epoch"
            ]

    def after_op(self, state, r: dict) -> None:
        if self.traced and r:
            table = state["pipe"].table
            r["_bytes"] = _dir_bytes(table.path) - state["bytes"]
            r["_feed_rows"] = table.read_changes(state["applied"]).count()

    def finish(self, state) -> int:
        pipe = state["pipe"]
        last = state["next"] - 1
        want = inputs.oracle_digest(self.meta, last)
        if self.args.wrong_digest:
            want = digest.corrupt(want)
        got = digest.of_table(pipe.table.read())
        replica = digest.of_table(SnapTable(self.spark, state["replica"]).read())
        bad = 0
        if got != want:
            bad += 1
            self.notes.append(f"table digest {got} != oracle {want} after epoch {last}")
        if replica != got:
            bad += 1
            self.notes.append(f"replica digest {replica} != source {got}")
        return bad

    def layer_metrics(self, untraced, traced_ops) -> dict:
        n = max(len(traced_ops), 1)
        events = inputs.SIZES["cdc_tail"]["epoch_events"]
        repl = [c["attrs"]["spark"]["tasks"] for c in self.tracer.named("call.replicate")]
        return {
            "commit_latency_p50_s": _median([r["commit"] for r in untraced]),
            "replica_lag_p50_s": _median([r["replicate"] for r in untraced]),
            "snaptable.bytes_written_per_event": sum(r["_bytes"] for r in traced_ops)
            / (n * events),
            "replicate.scan_tasks": sum(repl) / n,
            "replicate.rows_applied": sum(r["_feed_rows"] for r in traced_ops) / n,
            "expand.invalid_rows": sum(
                s["attrs"].get("invalid", 0) for s in self.tracer.named("pipeline.apply")
            )
            / n,
        }


# --------------------------------------------------------------- batch_ops


class BatchOps(Workload):
    name = "batch_ops"
    sizes = inputs.SIZES["batch_ops"]
    #: events per epoch of the decoded log (its partition size)
    epoch_size = 10_000

    def build(self, k: int):
        read = self.spark.read.parquet
        state = {k: read(self.meta["paths"][k]) for k in ("rows", "documents", "envelopes")}
        state["n_rows"] = state["rows"].count()
        state["i"] = 0
        return state

    def after_op(self, state, r: dict) -> None:
        """The decoded change log, read back without Spark, must hold
        exactly the generator's readable events."""
        import pyarrow.parquet as pq

        log = state.pop("log", None)
        if log is None:
            return
        if r:
            t = pq.read_table(log, columns=["log_offset", "op", "payload"])
            got = digest.of_rows(
                zip(*(t.column(c).to_pylist() for c in ("log_offset", "op", "payload")))
            )
            want = self.meta["decoded"]
            if self.args.wrong_digest:
                want = digest.corrupt(want)
            if got != want:
                self._fail(f"decoded log digest {got} != generator {want}")
        shutil.rmtree(log, ignore_errors=True)

    def _expand(self, state, mode: str):
        out = expand_mod.expand_json(state["rows"], inputs.EXPAND_CFG, mode=mode)
        h = F.xxhash64(*[F.col(f"`{c}`") for c in out.columns])
        agg = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(h).alias("x"),
            F.sum(F.pmod(h, F.lit(1_000_000_007))).alias("s"),
        )
        row = agg.collect()[0]
        if self.traced:
            self._phases(agg)
        return (row["n"], row["x"], row["s"])

    def _phases(self, agg) -> None:
        phases = agg._jdf.queryExecution().tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            ms = opt.get().durationMs() if opt.isDefined() else 0
            self.counters[f"expand.{name}_ms"] = self.counters.get(f"expand.{name}_ms", 0) + ms

    def op(self, state) -> dict:
        cat, cat_s = self.call("expand_catalyst", lambda: self._expand(state, "catalyst"))
        arw, arw_s = self.call("expand_arrow", lambda: self._expand(state, "arrow"))
        state["i"] += 1
        log = state["log"] = os.path.join(self.run_dir, f"decoded-{state['i']}")
        _, dec_s = self.call(
            "decode",
            lambda: envelopes.write_envelope_changes(
                envelopes.decode_debezium(state["envelopes"], epoch_size=self.epoch_size), log
            ),
        )
        pairs, nd_s = self.call(
            "neardup",
            lambda: dedup_text.minhash_lsh_pairs(
                state["documents"],
                num_hashes=inputs.NEARDUP["num_hashes"],
                bands=inputs.NEARDUP["bands"],
                shingle_size=inputs.NEARDUP["shingle_size"],
                threshold=inputs.NEARDUP["threshold"],
                verify="exact",
            ).collect(),
        )
        want_invalid = self.meta["invalid_rows"]
        if cat != arw:
            self._fail(f"catalyst digest {cat} != arrow digest {arw}")
        if state["n_rows"] - cat[0] != want_invalid:
            self._fail(f"expansion dropped {state['n_rows'] - cat[0]} rows, generator made {want_invalid} invalid")
        self._check_pairs(pairs)
        out = {"expand_catalyst": cat_s, "expand_arrow": arw_s, "decode": dec_s, "neardup": nd_s}
        if self.traced:
            out["_invalid"] = 2 * (state["n_rows"] - cat[0])
            out["_pairs"] = len(pairs)
        return out

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.notes.append(msg)

    def _check_pairs(self, pairs) -> None:
        """The reported pairs are exactly the sample's pinned true pairs,
        with their exact Jaccard. Exact equality holds because signatures,
        band collisions and the estimate prefilter each depend on the pair
        alone, and over the whole sf0.1 table the call reports all 256
        pinned pairs."""
        ref = {(a, b): j for a, b, j in self.meta["pairs"]}
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
        wrong = [p for p, j in got.items() if p not in ref or abs(ref[p] - j) > 1e-9]
        missed = [p for p in ref if p not in got]
        if wrong or missed or len(pairs) != len(ref):
            self._fail(
                f"near-dup pairs: {len(pairs)} reported, {len(ref)} pinned, "
                f"{len(wrong)} wrong, {len(missed)} missed"
            )

    def extra_traced_calls(self, state) -> None:
        """The near-dup kernel's first two steps as their own public calls."""
        kw = {
            "num_hashes": inputs.NEARDUP["num_hashes"],
            "shingle_size": inputs.NEARDUP["shingle_size"],
        }
        t0 = time.perf_counter()
        dedup_text.minhash_signatures(state["documents"], **kw).localCheckpoint(eager=True)
        self.counters["neardup.signatures_s"] = time.perf_counter() - t0
        self.counters["neardup.candidates"] = dedup_text.minhash_lsh_candidates(
            state["documents"], bands=inputs.NEARDUP["bands"], **kw
        ).count()

    def layer_metrics(self, untraced, traced_ops) -> dict:
        n = max(len(traced_ops), 1)
        rows, docs = self.sizes["rows"], self.sizes["docs"]
        t = self.tracer
        exp_calls = t.named("call.expand_catalyst") + t.named("call.expand_arrow")
        decode_s = sum(duration(s) for s in t.named("envelopes.decode") + t.named("envelopes.write"))
        pairs = sum(r["_pairs"] for r in traced_ops) / n
        cand = self.counters.get("neardup.candidates", 0)
        return {
            "expand_catalyst_rows_per_s": rows / _median([r["expand_catalyst"] for r in untraced])
            if untraced
            else 0.0,
            "expand_arrow_rows_per_s": rows / _median([r["expand_arrow"] for r in untraced])
            if untraced
            else 0.0,
            "neardup_docs_per_s": docs / _median([r["neardup"] for r in untraced])
            if untraced
            else 0.0,
            "expand.analysis_ms": self.counters.get("expand.analysis_ms", 0) / n,
            "expand.optimization_ms": self.counters.get("expand.optimization_ms", 0) / n,
            "expand.planning_ms": self.counters.get("expand.planning_ms", 0) / n,
            "expand.task_s": sum(c["attrs"]["spark"]["task_s"] for c in exp_calls) / n,
            "expand.invalid_rows": sum(r["_invalid"] for r in traced_ops) / n,
            "envelopes.events_per_s": self.sizes["envelopes"] * n / decode_s if decode_s else 0.0,
            "neardup.signatures_s": self.counters.get("neardup.signatures_s", 0.0),
            "neardup.candidates": cand,
            "neardup.pairs": pairs,
            "neardup.verify_ratio": pairs / cand if cand else 0.0,
        }


WORKLOADS = {w.name: w for w in (CdcTail, BatchOps)}
