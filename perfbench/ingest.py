"""``channel_ingest``: seeded JSON message files land in a watched
directory; a ``StreamingChannel`` over ``stream_files`` runs each
micro-batch through the chain, audits every outcome in a
``FileMessageStore`` and parks fragile orders in a ``RetryStore``
while the downstream is down. After :data:`BATCHES_PER_ROUND` batches
the marker is removed and ``run_retries_once()`` sweeps the parked rows.

Ops per round: :data:`BATCHES_PER_ROUND` ``batch`` ops (a batch
directory of :data:`BATCH_MSGS` files is renamed into the watched
directory, timed until ``process_all_available()`` returns, i.e. its
outcomes are committed) and one ``sweep`` op. At this size a batch costs
the same as one four times larger (per-action overhead dominates), and
one batch per round keeps a run inside its time budget.
"""

from __future__ import annotations

import json
import os
import random
import time

from pyspark.sql import functions as F

import chain
from harness import OpLog, dir_stats, median, wrap_methods

BATCH_MSGS = 20
BATCHES_PER_ROUND = 1
WARM_ROUNDS = 1
CHANNEL = "ingest"


class IngestWorkload:
    kinds = ("batch", "sweep")

    def __init__(self, spark, rundir: str, seed: int, tracer=None):
        from pypeman_spark.sources.file_watcher import stream_files
        from pypeman_spark.store.msgstore import FileMessageStore
        from pypeman_spark.store.retry import RetryStore
        from pypeman_spark.streaming.channel import StreamingChannel

        self.spark = spark
        self.rng = random.Random(seed)
        self.stage = os.path.join(rundir, "stage")
        self.watch = os.path.join(rundir, "watch")
        self.marker = os.path.join(rundir, "downstream_down")
        for d in (self.stage, self.watch):
            os.makedirs(d)
        self.calls = spark.sparkContext.accumulator(0)
        self.pipeline = chain.build_pipeline(CHANNEL, self.calls, self.marker)
        self.store_dir = os.path.join(rundir, "store")
        self.store = FileMessageStore(spark, self.store_dir, channel=CHANNEL)
        self.retry = RetryStore(spark, os.path.join(rundir, "retry"),
                                channel=CHANNEL, retry_delay=0)
        source = stream_files(spark, os.path.join(self.watch, "*"),
                              glob="*.json", channel=CHANNEL)
        self.channel = StreamingChannel(
            source, self.pipeline, message_store=self.store,
            retry_store=self.retry,
            checkpoint_dir=os.path.join(rundir, "checkpoint"),
        )
        self._capture_results()
        if tracer is not None:
            self._instrument(tracer)
        self.next_seq = 0
        self.n_batches = 0
        self.messages: dict[str, dict] = {}  # filename -> payload dict
        self.progress: list[dict] = []
        self.udf_calls = 0
        self.timed_msgs = 0
        self.parked: list[int] = []
        self.swept: list[int] = []

    def _capture_results(self) -> None:
        """Keep each ``Pipeline.run`` result so the check can read the
        Python node's output after the op; the message store audits the
        input payload only. Nothing is evaluated or timed here."""
        run = self.pipeline.run
        self.results: list = []

        def capturing_run(*args, **kwargs):
            res = run(*args, **kwargs)
            self.results.append(res)
            return res

        self.pipeline.run = capturing_run

    def _instrument(self, tracer) -> None:
        wrap_methods(tracer, self.channel, "streaming",
                     {"process_batch": "streaming.process_batch"})
        wrap_methods(tracer, self.pipeline, "pipeline", {"run": "pipeline.run"})
        wrap_methods(tracer, self.store, "msgstore", {
            "store": "msgstore.store",
            "change_message_states": "msgstore.change_states",
            "add_meta_from_messages": "msgstore.add_meta",
        })
        wrap_methods(tracer, self.retry, "retry", {
            "store_until_retry": "retry.park",
            "retry_once": "retry.sweep",
        })

    # -- inputs ----------------------------------------------------------
    def _stage_batch(self) -> tuple[str, list[str]]:
        """Write the next batch's files into a staging directory; the op
        lands them with one atomic rename."""
        name = f"b{self.n_batches:05d}"
        self.n_batches += 1
        bdir = os.path.join(self.stage, name)
        os.makedirs(bdir)
        names = []
        for msg in chain.make_messages(self.rng, self.next_seq, BATCH_MSGS):
            fname = f"m{msg['seq']:07d}.json"
            with open(os.path.join(bdir, fname), "w") as fh:
                fh.write(json.dumps(msg))
            self.messages[fname] = msg
            names.append(fname)
        self.next_seq += BATCH_MSGS
        return name, names

    # -- ops -------------------------------------------------------------
    def _batch(self) -> tuple[float, list[str], object]:
        name, names = self._stage_batch()
        self.results.clear()
        last = self.channel.query.lastProgress
        last_id = last["batchId"] if last else -1
        calls0 = self.calls.value
        t0 = time.perf_counter()
        os.rename(os.path.join(self.stage, name), os.path.join(self.watch, name))
        self.channel.process_all_available()
        seconds = time.perf_counter() - t0
        self.udf_calls += self.calls.value - calls0
        self.timed_msgs += len(names)
        self.progress += [p for p in self.channel.query.recentProgress
                          if p["batchId"] > last_id and p["numInputRows"]]
        return seconds, names, (self.results[0] if self.results else None)

    def _sweep(self) -> tuple[float, dict]:
        os.remove(self.marker)
        t0 = time.perf_counter()
        counts = self.channel.run_retries_once()
        seconds = time.perf_counter() - t0
        return seconds, counts

    # -- lifecycle ---------------------------------------------------------
    def setup(self) -> None:
        """Start the stream and warm every path with :data:`WARM_ROUNDS`
        untimed rounds (a batch that parks rows, then a sweep), not
        checked. A second warm round would cost another 20 s of set-up
        per run, which the benchmark's time budget does not allow."""
        self.channel.start()
        for _ in range(WARM_ROUNDS):
            open(self.marker, "w").close()
            self._batch()
            self._sweep()
        self.progress.clear()
        self.udf_calls = self.timed_msgs = 0

    def run_round(self, ops: OpLog, timed) -> None:
        open(self.marker, "w").close()
        batches = [timed(self._batch) for _ in range(BATCHES_PER_ROUND)]
        round_names = [n for _s, names, _r in batches for n in names]
        fragile = sorted(self.messages[n]["seq"] for n in round_names
                         if self.messages[n]["fragile"])
        parked = sorted(json.loads(r["payload"])["seq"] for r in
                        self.retry.pending().select("payload").collect())
        self.parked.append(len(parked))
        sweep_s, counts = timed(self._sweep)
        pending_after = self.retry.pending().count()
        rows = self._current(round_names)
        for seconds, names, res in batches:
            ops.record("batch", seconds,
                       check_batch(self.messages, names, rows, parked)
                       or check_output(self.messages, names, _outputs(res)))
        self.swept.append(counts.get("succeeded", 0))
        ops.record("sweep", sweep_s,
                   check_sweep(self.messages, fragile, counts, pending_after, rows))

    def _current(self, names: list[str]) -> dict[str, dict]:
        cur = (
            self.store.current()
            .select(F.col("meta")["filename"].alias("fn"), "state", "store_meta")
            .filter(F.col("fn").isin(names))
            .collect()
        )
        out = {}
        for r in cur:
            out[r["fn"]] = {"state": r["state"],
                            "store_meta": dict(r["store_meta"] or {})}
        return out

    def teardown(self) -> None:
        self.channel.stop()

    # -- metrics -----------------------------------------------------------
    def layer_metrics(self, tracer) -> dict[str, float]:
        def dur(key):
            return median(p["durationMs"].get(key, 0) for p in self.progress)

        files, size = dir_stats(self.store_dir)

        def med(name):
            return median(tracer.durations(name))

        return {
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.get_batch_ms": dur("getBatch"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "pipeline.run_s": med("pipeline.run"),
            "operators.udf_calls_per_msg":
                self.udf_calls / self.timed_msgs if self.timed_msgs else 0.0,
            "msgstore.store_s": med("msgstore.store"),
            "msgstore.change_states_s": med("msgstore.change_states"),
            "msgstore.add_meta_s": med("msgstore.add_meta"),
            "msgstore.files": files,
            "msgstore.bytes_per_msg": size / max(1, len(self.messages)),
            "retry.park_s": med("retry.park"),
            "retry.sweep_s": med("retry.sweep"),
            "retry.parked": median(self.parked),
            "retry.swept": median(self.swept),
        }


def check_batch(messages, names, rows, parked) -> str | None:
    """A batch passes when every message that is not parked reached its
    plain-Python state and store meta, and every fragile one was parked
    in the retry store (its message-store state is still ``pending``)."""
    parked = set(parked)
    for fn in names:
        msg = messages[fn]
        got = rows.get(fn)
        if got is None:
            return f"{fn} missing from the message store"
        want = chain.expected_state(msg, downstream_down=True)
        if want == "wait_retry":
            if msg["seq"] not in parked:
                return f"{fn} was not parked in the retry store"
            if got["state"] not in ("pending", "processed"):
                return f"{fn} parked but stored as {got['state']}"
            continue
        if got["state"] != want:
            return f"{fn} stored as {got['state']}, expected {want}"
        meta = chain.expected_store_meta(msg, fn, downstream_down=True)
        if got["store_meta"] != meta:
            return f"{fn} store_meta {got['store_meta']}, expected {meta}"
    return None


def _outputs(res) -> dict[str, dict] | None:
    """Filename -> decoded payload of the processed rows of one batch's
    pipeline result (re-evaluated over the batch's files)."""
    if res is None:
        return None
    rows = res.df.select(F.col("meta")["filename"].alias("fn"), "payload").collect()
    return {r["fn"]: json.loads(r["payload"]) for r in rows}


def check_output(messages, names, outputs) -> str | None:
    """The processed rows are exactly the orders that should pass, each
    carrying the enrich node's output computed apart from it."""
    if outputs is None:
        return "the channel did not run the pipeline for this batch"
    want = {fn for fn in names
            if chain.expected_state(messages[fn], downstream_down=True)
            == "processed"}
    if set(outputs) != want:
        return (f"processed {sorted(set(outputs) ^ want)[:3]}... differ from "
                "the plain-Python routing")
    for fn in want:
        expected = chain.expected_enrich(messages[fn])
        if outputs[fn] != expected:
            return f"{fn} enrich output {outputs[fn]}, expected {expected}"
    return None


def check_sweep(messages, fragile, counts, pending_after, rows) -> str | None:
    """A sweep passes when it retried exactly the parked fragile orders,
    all succeeded, the retry store is empty after it, and the message
    store shows each of them ``processed`` (their audit trail settled)."""
    n = len(fragile)
    want = {"retried": n, "succeeded": n, "rejected": 0, "reparked": 0}
    if counts != want:
        return f"sweep counts {counts}, expected {want}"
    if pending_after:
        return f"{pending_after} rows still parked after the sweep"
    by_seq = {messages[fn]["seq"]: fn for fn in rows}
    for seq in fragile:
        fn = by_seq.get(seq)
        state = rows[fn]["state"] if fn else None
        if state != "processed":
            return (f"swept message seq {seq} is {state!r} in the message "
                    "store, expected 'processed'")
    return None
