"""The channel both workloads run, its seeded messages, and the
plain-Python routing the checks compare the program against.

Chain: ``JsonToPython`` → ``Drop`` (heartbeats) → ``Reject`` (negative
quantity) → ``FuncNode(enrich, store_meta=["filename"])`` →
``Downstream`` (``auto_retry``; fails fragile orders while the
"downstream down" marker file exists).
"""

from __future__ import annotations

import json
import os
import random

from pyspark.sql import functions as F

REGIONS = ("north", "south", "east", "west")
WORDS = ("alpha", "bravo", "delta", "ember", "fjord", "gamma", "harbor",
         "iris", "juniper", "kilo", "lumen", "meadow", "nectar", "orbit")

# make-up of every block of 20 messages (positions shuffled by seed)
BLOCK = 20
HEARTBEATS, REJECTS, FRAGILE = 2, 1, 2
# every payload is padded to this many characters, so file and partition
# sizes (and with them Spark's task counts) do not depend on the seed
PAYLOAD_CHARS = 256


def make_messages(rng: random.Random, first_seq: int, n: int) -> list[dict]:
    """``n`` payload dicts, ``n`` a multiple of :data:`BLOCK`, each block
    holding the same number of heartbeats, rejects and fragile orders."""
    if n % BLOCK:
        raise ValueError(f"message count {n} is not a multiple of {BLOCK}")
    out = []
    for b in range(n // BLOCK):
        roles = (["heartbeat"] * HEARTBEATS + ["reject"] * REJECTS
                 + ["fragile"] * FRAGILE)
        roles += ["order"] * (BLOCK - len(roles))
        rng.shuffle(roles)
        for i, role in enumerate(roles):
            seq = first_seq + b * BLOCK + i
            msg = {
                "seq": seq,
                "kind": "heartbeat" if role == "heartbeat" else "order",
                "customer": f"c{rng.randrange(1000):03d}",
                "region": rng.choice(REGIONS),
                "sku": f"S{rng.randrange(10000):04d}",
                "qty": -1 if role == "reject" else rng.randint(1, 9),
                "price": round(rng.uniform(1.0, 100.0), 2),
                "fragile": role == "fragile",
                "note": " ".join(rng.choice(WORDS) for _ in range(6)),
            }
            msg["note"] += " " * (PAYLOAD_CHARS - len(json.dumps(msg)))
            out.append(msg)
    return out


def expected_enrich(msg: dict) -> dict:
    """What the enrich node should output, computed apart from it."""
    total = round(msg["qty"] * msg["price"], 2)
    return {**msg, "total": total,
            "receipt": "%s/%d/%.2f" % (msg["customer"], msg["seq"], total)}


def expected_state(msg: dict, downstream_down: bool) -> str:
    if msg["kind"] == "heartbeat":
        return "dropped"
    if msg["qty"] < 0:
        return "rejected"
    if msg["fragile"] and downstream_down:
        return "wait_retry"
    return "processed"


def expected_store_meta(msg: dict, filename: str, downstream_down: bool) -> dict:
    """Store-meta lists a message earns on its way through the chain."""
    state = expected_state(msg, downstream_down)
    if state in ("dropped", "rejected"):
        return {}
    return {"filename": [filename]}


def make_enrich(counter):
    """The Python node's function; ``counter`` is a Spark accumulator
    that counts its calls (``operators.udf_calls_per_msg``)."""

    def enrich(msg):
        counter.add(1)
        total = round(msg["qty"] * msg["price"], 2)
        out = dict(msg)
        out["total"] = total
        out["receipt"] = "%s/%d/%.2f" % (msg["customer"], msg["seq"], total)
        return out

    return enrich


def build_pipeline(name: str, counter, marker: str):
    from pypeman_spark import Pipeline
    from pypeman_spark.message import ERROR
    from pypeman_spark.operators import Drop, FuncNode, JsonToPython, Reject
    from pypeman_spark.operators.base import Node

    class Downstream(Node):
        """Hands the order on; while ``marker`` exists (checked when the
        pipeline runs) the downstream is down for fragile orders, which
        fail and, with ``auto_retry``, park for the retry sweep."""

        def transform(self, df):
            down = F.lit(os.path.exists(marker))
            fragile = F.get_json_object("payload", "$.fragile") == "true"
            return self.set_state(
                df, down & fragile, ERROR,
                err_msg=F.lit("ConnectionError: downstream down"),
            )

    return Pipeline(name).add(
        JsonToPython(),
        Drop(condition=F.get_json_object("payload", "$.kind") == "heartbeat",
             name="drop_heartbeat"),
        Reject(condition=F.get_json_object("payload", "$.qty").cast("int") < 0,
               name="reject_negative"),
        FuncNode(make_enrich(counter), name="enrich", store_meta=["filename"]),
        Downstream(name="deliver", auto_retry=True),
    )
