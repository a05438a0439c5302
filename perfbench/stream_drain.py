"""stream_drain: ``curate_and_ingest_stream(stream_near_dup=True)`` fed
one staged file per operation, each drained to completion before the
next is staged (closed loop, one client). Every operation runs one
micro-batch through curation, the ``applyInPandasWithState`` near-dup
detector and the per-micro-batch ``run_ingest_cycle`` against the
on-disk store, so it loads ``streaming.ingest``, ``operators.dedup``,
``operators.sketches``, the Python workers and the state store."""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from datetime import datetime

from timebox_spark.streaming import ingest as ING

from perfbench import datagen, sparkstats
from perfbench.tracing import attribute, stage_intervals

DOCS_PER_FILE = 200
MAX_FILES = 4  # operations one run can stage
STREAM_SCHEMA = "doc_id long, text string, source string, ts timestamp"
# the features bench.py's ingest loop turns on, with consolidation
# folding the store on every micro-batch so each timed operation does
# the same work
DRAIN_KW = dict(
    min_quality_q=0,
    min_tokens=1,
    stream_near_dup=True,
    index_verify="estimate",
    consolidate_every=1,
    cms_col="source",
)
TOP_STAGES = ("consolidate", "state_read_gates", "compact_write",
              "derived_writes", "index_writes", "count")
COMPACT_STAGES = ("compact_exact_gate", "compact_kept_ckpt", "compact_banded_ckpt",
                  "compact_index_ckpt", "compact_band_probe", "compact_cand_prune")
PROGRESS_KEYS = {  # metric suffix -> durationMs key
    "trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
    "latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch",
}


def _md5_ids(ids) -> str:
    return hashlib.md5(",".join(str(i) for i in sorted(ids)).encode()).hexdigest()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


class StreamDrain:
    name = "stream_drain"

    def __init__(self, tracer):
        self.tracer = tracer
        self.cycles: list[dict] = []  # traced run: one record per ingest cycle
        self.ops: list[dict] = []
        # bench.py's convention: every state tree at this size sits under
        # the production auto-disable bound, so force the Bloom gates on
        ING.GATE_MIN_TREE_BYTES = 0

    def setup(self, spark, work_dir: str, seed: int) -> None:
        self.pending = os.path.join(work_dir, "pending")
        self.src = os.path.join(work_dir, "src")
        self.store = os.path.join(work_dir, "store")
        self.ckpt = os.path.join(work_dir, "ckpt")
        os.makedirs(self.pending)
        os.makedirs(self.src)
        self.files = datagen.stream_docs(seed, MAX_FILES, DOCS_PER_FILE)
        for k, f in enumerate(self.files):
            datagen.write_stream_file(os.path.join(self.pending, f"part-{k:03d}.parquet"), f["cols"])
        self.staged = 0
        self.stream = (
            spark.readStream.schema(STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )

    def warm(self, spark) -> None:
        """Nothing: the measured operation is a fresh stream's first
        micro-batch, the cost a new or restarted ingest stream pays."""

    def step(self, spark, i: int) -> tuple[list[tuple[str, float]], int]:
        """Stage the next file and drain it through detector and ingest."""
        t0, wall0 = time.perf_counter(), time.time()
        name = f"part-{self.staged:03d}.parquet"
        os.rename(os.path.join(self.pending, name), os.path.join(self.src, name))
        self.staged += 1
        drain = ING.curate_and_ingest_stream(self.stream, self.store, self.ckpt, **DRAIN_KW)
        drain.start().awaitTermination()
        sec = time.perf_counter() - t0
        self.ops.append({"start": wall0, "end": time.time(),
                         "halves": list(drain.drain_secs), "trace": f"op{i}"})
        return [("drain", sec)], DOCS_PER_FILE

    def check(self, spark) -> dict[str, str | None]:
        """Kept ids and flagged ids against the outcome the inputs were
        built to have: every original kept, every planted copy flagged
        by the detector and kept out of the store."""
        staged = self.files[: self.staged]
        copies = {c for f in staged for c in f["copies"]}
        want_kept = {d for f in staged for d in f["cols"]["doc_id"]} - copies
        got_kept = [r[0] for r in spark.read.parquet(f"{self.store}/corpus").select("doc_id").collect()]
        results = {"kept_ids": None, "hit_ids": None}
        if _md5_ids(got_kept) != _md5_ids(want_kept):
            results["kept_ids"] = (
                f"{len(got_kept)} rows, md5 {_md5_ids(got_kept)}; "
                f"expected {len(want_kept)}, md5 {_md5_ids(want_kept)}")
        self.hit_rows = self._hit_rows(spark)
        flagged = {r[0] for r in self.hit_rows}
        if flagged != copies:
            results["hit_ids"] = (f"flagged {len(flagged)} docs, expected the {len(copies)} "
                                  f"planted copies ({len(flagged - copies)} unexpected)")
        return results

    def _hit_rows(self, spark) -> list:
        rows = []
        for tree in ("near_hits", "near_hits_history"):
            path = f"{self.store}/{tree}"
            if os.path.isdir(path) and any(n.startswith("batch=") for n in os.listdir(path)):
                rows += spark.read.parquet(path).select("doc_id").collect()
        return rows

    # ---------------------------------------------------------- traced run
    def instrument(self) -> None:
        """Wrap the stream sink's call into the ingest cycle so each
        cycle's ``timings`` stages, interval and kept rows are recorded."""
        inner = ING.run_ingest_cycle

        def traced_cycle(batch, store_path, cycle_id, **kw):
            tm: dict = {}
            t0 = time.time()
            kept = inner(batch, store_path, cycle_id, timings=tm, **kw)
            t1 = time.time()
            # counted now: the next cycle's consolidation folds them away
            files = sum(1 for r, _d, fs in os.walk(store_path) for f in fs
                        if not f.startswith((".", "_"))
                        and os.path.getmtime(os.path.join(r, f)) >= t0)
            self.cycles.append({"cycle": cycle_id, "start": t0, "end": t1,
                                "timings": tm, "kept": kept, "files": files})
            return kept

        ING.run_ingest_cycle = traced_cycle

    def add_spans(self) -> None:
        """Spans of each timed operation: the drain, its detector and
        ingest halves, the ingest cycle and its ``timings`` stages."""
        tr = self.tracer
        for op in self.ops:
            trace = op["trace"]
            root = tr.add("stream.op", op["start"], op["end"], trace)
            det, ing = op["halves"]
            tr.add("stream.detector", op["start"], op["start"] + det, trace, parent=root)
            half = tr.add("stream.ingest", op["start"] + det, op["start"] + det + ing,
                          trace, parent=root)
            for cyc in self._cycles_in(op):
                cid = tr.add("ingest.cycle", cyc["start"], cyc["end"], trace, parent=half)
                stage_ids = {}
                for name, a, b, parent in self._intervals(cyc):
                    stage_ids[name] = tr.add(f"ingest.{name}", a, b, trace,
                                             parent=stage_ids.get(parent, cid))

    def _cycles_in(self, op: dict) -> list[dict]:
        return [c for c in self.cycles if op["start"] <= c["start"] <= op["end"]]

    @staticmethod
    def _intervals(cyc: dict):
        return stage_intervals(cyc["start"], cyc["timings"],
                               {"compact_write": COMPACT_STAGES})

    def layer_metrics(self, log: dict, progress: list[dict]) -> dict[str, float]:
        """Per-operation layer metrics; also adds the operations' spans."""
        self.add_spans()
        job_tasks = sparkstats.job_tasks(log)
        out: dict[str, float] = {}
        ops = self.ops
        n = max(len(ops), 1)
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        out["stream.detector_s"] = med([o["halves"][0] for o in ops])
        out["stream.ingest_s"] = med([o["halves"][1] for o in ops])

        # ingest cycles of the timed operations
        timed = [c for o in ops for c in self._cycles_in(o)]
        out_bytes = {}
        for t in log["tasks"]:
            out_bytes[t["stage"]] = out_bytes.get(t["stage"], 0) + t["bytes_out"]
        per_stage = {s: {"s": 0.0, "jobs": 0} for s in TOP_STAGES + COMPACT_STAGES}
        cyc_jobs = cyc_tasks = written = consolidated = kept = files = 0
        for c in timed:
            jobs = [j for j in log["jobs"] if c["start"] <= j["submit"] <= c["end"]]
            cyc_jobs += len(jobs)
            cyc_tasks += sum(job_tasks.get(j["id"], 0) for j in jobs)
            written += sum(out_bytes.get(s, 0) for j in jobs for s in j["stages"])
            ivs = self._intervals(c)
            counts = attribute([j["submit"] for j in jobs], ivs)
            for name, a, b, _p in ivs:
                per_stage[name]["s"] += b - a
                per_stage[name]["jobs"] += counts[name]
                if name == "consolidate":
                    consolidated += sum(out_bytes.get(s, 0) for j in jobs
                                        if a <= j["submit"] < b for s in j["stages"])
            kept += c["kept"]
            files += c["files"]
        k = max(len(timed), 1)
        cycle_s = [c["end"] - c["start"] for c in timed]
        out["ingest.cycle_s"] = med(cycle_s)
        out["ingest.cycle_jobs"] = cyc_jobs / k
        out["ingest.cycle_tasks"] = cyc_tasks / k
        out["ingest.tasks_per_job"] = cyc_tasks / max(cyc_jobs, 1)
        for s in TOP_STAGES + COMPACT_STAGES:
            out[f"ingest.{s}_s"] = per_stage[s]["s"] / k
            out[f"ingest.{s}_jobs"] = per_stage[s]["jobs"] / k
        out["ingest.bytes_written"] = written / k
        out["ingest.files_written"] = files / k
        out["ingest.consolidate_bytes_rewritten"] = consolidated / k

        # streaming progress of the timed operations, per query kind
        t0, t1 = ops[0]["start"] if ops else 0, ops[-1]["end"] if ops else 0
        in_rows = 0
        for kind in ("detector", "ingest"):
            reps = [p for p in progress
                    if bool(p.get("stateOperators")) == (kind == "detector")
                    and t0 <= _epoch(p["timestamp"]) <= t1]
            pre = f"stream.{kind}"
            out[f"{pre}.batches"] = len(reps) / n
            for metric, key in PROGRESS_KEYS.items():
                out[f"{pre}.{metric}"] = med([p["durationMs"].get(key, 0) for p in reps])
            states = [p["stateOperators"][0] for p in reps if p.get("stateOperators")]
            out[f"{pre}.state_rows"] = states[-1]["numRowsTotal"] if states else 0
            out[f"{pre}.state_mem_bytes"] = states[-1]["memoryUsedBytes"] if states else 0
            out[f"{pre}.state_commit_ms"] = med([s.get("commitTimeMs", 0) for s in states])
            run_ids = {p["runId"] for p in reps}
            out[f"{pre}.jobs"] = sum(1 for j in log["jobs"] if j["group"] in run_ids) / n
            if kind == "ingest":
                in_rows = sum(p.get("numInputRows", 0) for p in reps)
        out["ingest.kept_ratio"] = kept / max(in_rows, 1)
        out["stream.hit_rows"] = len(self.hit_rows)
        out["stream.kept_ratio"] = kept / max(DOCS_PER_FILE * len(ops), 1)
        admitted = sum(os.path.getsize(os.path.join(self.src, f)) for f in os.listdir(self.src))
        out["store.space_amp"] = _dir_bytes(self.store) / max(admitted, 1)
        return out


def _epoch(ts: str) -> float:
    """Progress timestamps are ISO-8601 UTC strings."""
    return datetime.fromisoformat(ts).timestamp()
