"""Each checker must turn a wrong answer into a failed operation.

Run from the repository root: ``python3 -m pytest perfbench/test_checks.py``
(pure Python; no Spark session is started).
"""

import copy
import datetime as dt
import json
import random

import admin
import chain
import ingest
from harness import OpLog


def _record(kind, err):
    ops = OpLog()
    ops.record(kind, 1.0, err)
    return ops


def _batch():
    msgs = chain.make_messages(random.Random(7), 0, chain.BLOCK)
    messages = {f"m{m['seq']:07d}.json": m for m in msgs}
    names = list(messages)
    parked = [m["seq"] for m in msgs if m["fragile"]]
    rows = {}
    for fn, m in messages.items():
        state = chain.expected_state(m, downstream_down=True)
        rows[fn] = {
            "state": "pending" if state == "wait_retry" else state,
            "store_meta": ({} if state == "wait_retry" else
                           chain.expected_store_meta(m, fn, True)),
        }
    return messages, names, rows, parked


def test_make_messages_has_fixed_make_up():
    msgs = chain.make_messages(random.Random(1), 0, 2 * chain.BLOCK)
    assert sum(m["kind"] == "heartbeat" for m in msgs) == 2 * chain.HEARTBEATS
    assert sum(m["qty"] < 0 for m in msgs) == 2 * chain.REJECTS
    assert sum(m["fragile"] for m in msgs) == 2 * chain.FRAGILE
    assert msgs == chain.make_messages(random.Random(1), 0, 2 * chain.BLOCK)
    assert {len(json.dumps(m)) for m in msgs} == {chain.PAYLOAD_CHARS}


def test_enrich_matches_expected_output():
    class Counter:
        n = 0

        def add(self, k):
            self.n += k

    counter = Counter()
    enrich = chain.make_enrich(counter)
    for m in chain.make_messages(random.Random(3), 0, chain.BLOCK):
        assert enrich(json.loads(json.dumps(m))) == chain.expected_enrich(m)
    assert counter.n == chain.BLOCK


def test_batch_check_fails_on_wrong_answers():
    messages, names, rows, parked = _batch()
    assert ingest.check_batch(messages, names, rows, parked) is None
    normal = next(fn for fn in names if not messages[fn]["fragile"]
                  and messages[fn]["kind"] == "order" and messages[fn]["qty"] > 0)
    fragile = next(fn for fn in names if messages[fn]["fragile"])

    wrong_state = copy.deepcopy(rows)
    wrong_state[normal]["state"] = "rejected"
    wrong_meta = copy.deepcopy(rows)
    wrong_meta[normal]["store_meta"]["filename"] = ["m9999999.json"]
    missing = {fn: r for fn, r in rows.items() if fn != normal}
    for bad_rows, bad_parked in ((wrong_state, parked), (wrong_meta, parked),
                                 (missing, parked),
                                 (rows, [s for s in parked
                                         if s != messages[fragile]["seq"]])):
        err = ingest.check_batch(messages, names, bad_rows, bad_parked)
        assert err is not None
        assert _record("batch", err).failed == 1


def test_output_check_fails_on_wrong_answers():
    messages, names, _rows, _parked = _batch()
    outputs = {fn: chain.expected_enrich(m) for fn, m in messages.items()
               if chain.expected_state(m, downstream_down=True) == "processed"}
    assert ingest.check_output(messages, names, outputs) is None
    fn = next(iter(outputs))
    wrong_total = dict(outputs, **{fn: dict(outputs[fn], total=-1.0)})
    extra = dict(outputs, **{n: messages[n] for n in names if n not in outputs})
    missing = {k: v for k, v in outputs.items() if k != fn}
    for bad in (wrong_total, extra, missing, None):
        err = ingest.check_output(messages, names, bad)
        assert err is not None
        assert _record("batch", err).failed == 1


def test_sweep_check_fails_while_swept_messages_stay_pending():
    messages, names, rows, parked = _batch()
    n = len(parked)
    counts = {"retried": n, "succeeded": n, "rejected": 0, "reparked": 0}
    settled = copy.deepcopy(rows)
    for fn in names:
        if messages[fn]["fragile"]:
            settled[fn]["state"] = "processed"
    assert ingest.check_sweep(messages, parked, counts, 0, settled) is None
    # the known fault: retry_once leaves the message store at 'pending'
    assert "pending" in ingest.check_sweep(messages, parked, counts, 0, rows)
    assert ingest.check_sweep(messages, parked, dict(counts, succeeded=0),
                              0, settled) is not None
    assert ingest.check_sweep(messages, parked, counts, 1, settled) is not None


def _admin_rows():
    rng = random.Random(5)
    rows = {}
    for i, m in enumerate(chain.make_messages(rng, 0, 2 * chain.BLOCK)):
        ts = dt.datetime(2024, 3, 1) + dt.timedelta(minutes=7 * i)
        rid = ts.strftime("%Y%m%d_%H%M%S000_") + f"{i:032x}"
        rows[rid] = {"id": rid, "timestamp": ts, "payload": json.dumps(m),
                     "meta": {"region": m["region"]},
                     "state": chain.expected_state(m, False), "msg": m}
    return rows


def _as_listed(rows):
    return [{"id": r["id"], "timestamp": str(r["timestamp"]),
             "state": r["state"], "payload": r["payload"],
             "meta": dict(r["meta"])} for r in rows]


def test_search_check_fails_on_wrong_answers():
    rows = _admin_rows()
    kw = {"order_by": "-timestamp", "start": 5, "count": 10}
    page = _as_listed(admin.expected_page(rows, kw))
    assert len(page) == 10
    assert admin.check_search(rows, kw, page) is None
    reordered = page[1:] + page[:1]
    wrong_state = copy.deepcopy(page)
    wrong_state[3]["state"] = "error"
    wrong_meta = copy.deepcopy(page)
    wrong_meta[0]["meta"]["region"] = "nowhere"
    for bad in (reordered, wrong_state, wrong_meta, page[:-1], []):
        err = admin.check_search(rows, kw, bad)
        assert err is not None
        assert _record("search", err).failed == 1
    region = next(iter(rows.values()))["meta"]["region"]
    kw = {"meta": {"region": region}, "count": 100}
    want = admin.expected_page(rows, kw)
    assert want and all(r["meta"]["region"] == region for r in want)


def test_view_check_fails_on_wrong_answers():
    rows = _admin_rows()
    row = next(iter(rows.values()))
    good = _as_listed([row])[0]
    assert admin.check_view(row, good) is None
    for bad in (None, dict(good, payload="{}"), dict(good, id="x")):
        err = admin.check_view(row, bad)
        assert err is not None
        assert _record("view", err).failed == 1


def test_metric_names_match_benchmark_json():
    import os

    import run

    path = os.path.join(os.path.dirname(__file__), os.pardir, "BENCHMARK.json")
    with open(path) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
