"""``store_admin``: the remote-admin path through ``ChannelRegistry``
against a message store pre-filled in setup with :data:`PREFILL_MSGS`
messages spread over :data:`DATES` days.

Ops per round (targets drawn from the seed): four ``list_msgs``
searches (text, meta, date range, a deep page in newest-first order),
and two ``view_msg`` and two ``preview_msg`` point lookups. Latency
kinds: ``search`` and ``view`` (view and preview). ``replay_msg`` is
left out: one costs 11-14 s at HEAD, so a run would time a single cold
replay, and that one sample swung the run's figures by a third.

Every answer is checked against a plain-Python model of the store:
searches filter, sort and paginate the model's rows; views return the
generated payload and meta.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import time

import chain
from harness import OpLog, dir_stats, median, wrap_methods

PREFILL_MSGS = 4000
DATES = 5
FIRST_DAY = dt.datetime(2024, 3, 1)
CHANNEL = "orders"
PAGE = 20
PREVIEW_LEN = 64


class AdminWorkload:
    kinds = ("search", "view")

    def __init__(self, spark, rundir: str, seed: int, tracer=None):
        from pypeman_spark.plans.admin import ChannelRegistry
        from pypeman_spark.store.msgstore import FileMessageStore

        self.spark = spark
        self.rng = random.Random(seed)
        self.store_dir = os.path.join(rundir, "store")
        self.store = FileMessageStore(spark, self.store_dir, channel=CHANNEL)
        # registered with the store as the registry expects; it never runs
        self.pipeline = chain.build_pipeline(
            CHANNEL, spark.sparkContext.accumulator(0),
            os.path.join(rundir, "downstream_down"))
        self.registry = ChannelRegistry(spark)
        self.registry.register(CHANNEL, self.pipeline, self.store)
        if tracer is not None:
            self._instrument(tracer)
        self.rows: dict[str, dict] = {}  # id -> model row

    def _instrument(self, tracer) -> None:
        wrap_methods(tracer, self.registry, "admin", {
            "list_msgs": "admin.list", "view_msg": "admin.view",
            "preview_msg": "admin.preview",
        })
        wrap_methods(tracer, self.store, "msgstore", {
            "search": "msgstore.search", "get": "msgstore.get",
            "get_preview_str": "msgstore.preview",
        })

    # -- set-up ------------------------------------------------------------
    def _generate(self) -> list[dict]:
        msgs = chain.make_messages(self.rng, 0, PREFILL_MSGS)
        span = DATES * 86400 * 1000
        offsets = sorted(self.rng.sample(range(span), PREFILL_MSGS))
        rows = []
        for msg, off in zip(msgs, offsets):
            ts = FIRST_DAY + dt.timedelta(milliseconds=off)
            uuid = "%032x" % self.rng.getrandbits(128)
            state = chain.expected_state(msg, downstream_down=False)
            fname = f"m{msg['seq']:07d}.json"
            rows.append({
                "id": ts.strftime("%Y%m%d_%H%M%S") + f"{ts.microsecond // 1000:03d}_{uuid}",
                "uuid": uuid,
                "timestamp": ts,
                "payload": json.dumps(msg),
                "meta": {"filename": fname, "region": msg["region"]},
                "state": state,
                "store_meta": chain.expected_store_meta(msg, fname, False),
                "msg": msg,
            })
        return rows

    def setup(self) -> None:
        """Pre-fill the store through its bulk write API (messages, state
        events, store-meta events), then warm the read paths with the
        first search and the first lookup of a round."""
        import pandas as pd
        from pyspark.sql import types as T

        rows = self._generate()
        self.rows = {r["id"]: r for r in rows}
        msgs = pd.DataFrame({
            "id": [r["id"] for r in rows],
            "uuid": [r["uuid"] for r in rows],
            "timestamp": [r["timestamp"] for r in rows],
            "content_type": "application/json",
            "payload": [r["payload"] for r in rows],
            "meta": [r["meta"] for r in rows],
        })
        schema = T.StructType([
            T.StructField("id", T.StringType()),
            T.StructField("uuid", T.StringType()),
            T.StructField("timestamp", T.TimestampType()),
            T.StructField("content_type", T.StringType()),
            T.StructField("payload", T.StringType()),
            T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
        ])
        # one input partition: one parquet file per day, so a lookup reads
        # the same number of files whichever message the seed picks
        self.store.store(self.spark.createDataFrame(msgs, schema).coalesce(1))
        states = self.spark.createDataFrame(
            [(r["id"], r["state"]) for r in rows], "id string, state string")
        self.store.change_message_states(states)
        entry = "array<struct<key:string,value:string>>"
        meta_rows = [
            (r["id"], [(k, v) for k, vals in r["store_meta"].items() for v in vals])
            for r in rows if r["store_meta"]
        ]
        self.store.add_meta_from_messages(self.spark.createDataFrame(
            meta_rows, f"id string, __store_meta {entry}"))
        warm = OpLog()
        round_ops = self._round_ops()
        for op in (round_ops[0], round_ops[4]):
            op(warm, lambda fn: fn())
        if warm.failed:
            raise RuntimeError("warm-up failed: " + "; ".join(warm.failures))

    # -- ops -------------------------------------------------------------
    def _round_ops(self):
        rng = self.rng
        prefill = list(self.rows.values())
        text_row = rng.choice(prefill)
        day = rng.randrange(DATES)
        hour = rng.randrange(0, 18)
        lo = FIRST_DAY + dt.timedelta(days=day, hours=hour)
        hi = lo + dt.timedelta(hours=6)
        searches = [
            {"text": '"sku": "%s"' % text_row["msg"]["sku"], "count": PAGE},
            {"meta": {"region": rng.choice(chain.REGIONS)}, "count": PAGE},
            {"start_dt": lo.strftime("%Y-%m-%d %H:%M:%S"),
             "end_dt": hi.strftime("%Y-%m-%d %H:%M:%S"), "count": PAGE},
            {"order_by": "-timestamp", "start": 5 * PAGE, "count": PAGE},
        ]
        # lookups hit one processed message (it has store-meta events) and
        # one dropped or rejected message (none, so the query plan prunes
        # a branch); a fixed make-up keeps Spark's job counts seed-free
        processed = [r for r in prefill if r["state"] == "processed"]
        others = [r for r in prefill if r["state"] != "processed"]
        views = [rng.choice(processed)["id"], rng.choice(others)["id"]]
        previews = [rng.choice(processed)["id"], rng.choice(others)["id"]]
        ops = [lambda o, t, kw=kw: self._search(o, t, kw) for kw in searches]
        ops += [lambda o, t, i=i: self._view(o, t, i) for i in views]
        ops += [lambda o, t, i=i: self._preview(o, t, i) for i in previews]
        return ops

    def run_round(self, ops: OpLog, timed) -> None:
        for op in self._round_ops():
            op(ops, timed)

    @staticmethod
    def _call(timed, fn):
        """Time one registry call; ``timed`` adds the op's span and
        counters around it and nothing else (checks run outside)."""

        def op():
            t0 = time.perf_counter()
            out = fn()
            return time.perf_counter() - t0, out

        return timed(op)

    def _search(self, ops: OpLog, timed, kw: dict) -> None:
        seconds, got = self._call(
            timed, lambda: self.registry.list_msgs(CHANNEL, **kw))
        ops.record("search", seconds, check_search(self.rows, kw, got))

    def _view(self, ops: OpLog, timed, msg_id: str) -> None:
        seconds, got = self._call(
            timed, lambda: self.registry.view_msg(CHANNEL, msg_id))
        ops.record("view", seconds, check_view(self.rows[msg_id], got))

    def _preview(self, ops: OpLog, timed, msg_id: str) -> None:
        seconds, got = self._call(
            timed, lambda: self.registry.preview_msg(CHANNEL, msg_id, PREVIEW_LEN))
        want = self.rows[msg_id]["payload"][:PREVIEW_LEN]
        err = None if got == want else f"preview {got!r}, expected {want!r}"
        ops.record("view", seconds, err)

    # -- metrics -----------------------------------------------------------
    def layer_metrics(self, tracer) -> dict[str, float]:
        def med(*names):
            return median(d for n in names for d in tracer.durations(n))

        files, size = dir_stats(self.store_dir)
        return {
            "msgstore.files": files,
            "msgstore.bytes_per_msg": size / max(1, len(self.rows)),
            "msgstore.search_s": med("msgstore.search"),
            "msgstore.get_s": med("msgstore.get"),
            "msgstore.preview_s": med("msgstore.preview"),
            "admin.list_s": med("admin.list"),
            "admin.view_s": med("admin.view", "admin.preview"),
        }

    def teardown(self) -> None:
        pass


def expected_page(rows: dict, kw: dict) -> list[dict]:
    """Plain-Python filter, sort and paginate over the model's rows."""
    sel = list(rows.values())
    if "text" in kw:
        sel = [r for r in sel if kw["text"] in r["payload"]]
    for key, value in (kw.get("meta") or {}).items():
        sel = [r for r in sel if r["meta"].get(key) == value]
    if "start_dt" in kw:
        lo = dt.datetime.fromisoformat(kw["start_dt"])
        sel = [r for r in sel if r["timestamp"] >= lo]
    if "end_dt" in kw:
        hi = dt.datetime.fromisoformat(kw["end_dt"])
        sel = [r for r in sel if r["timestamp"] <= hi]
    order = kw.get("order_by", "timestamp")
    sel.sort(key=lambda r: r["timestamp"], reverse=order.startswith("-"))
    start = kw.get("start", 0)
    return sel[start:start + kw.get("count", 100)]


def check_search(rows: dict, kw: dict, got: list[dict]) -> str | None:
    want = expected_page(rows, kw)
    if [g["id"] for g in got] != [w["id"] for w in want]:
        return (f"search {kw} returned {len(got)} ids "
                f"{[g['id'] for g in got][:3]}..., expected {len(want)} "
                f"{[w['id'] for w in want][:3]}...")
    if not want:
        return f"search {kw} matched nothing; the inputs must make it match"
    for g, w in zip(got, want):
        err = _compare(w, g)
        if err:
            return f"search {kw}: {err}"
    return None


def _compare(want: dict, got: dict) -> str | None:
    for key in ("state", "payload", "meta"):
        if got[key] != want[key]:
            return f"{want['id']} {key} {got[key]!r}, expected {want[key]!r}"
    return None


def check_view(want: dict, got: dict | None) -> str | None:
    if got is None:
        return f"view of {want['id']} found nothing"
    if got["id"] != want["id"]:
        return f"view returned {got['id']}, expected {want['id']}"
    return _compare(want, got)
