"""Seeded plan-document generator for the ``doc_write_read`` workload.

Documents follow ``plan_schema.json``: a plan with one plan-level cost
share and 0-4 linked plan services, each with a service and a cost
share. ObjectIds are unique across every nesting level and stay stable
when a plan is updated. Copays include the boundary values -1, 0, 10,
175 and 178, and service names include ``Yearly physical`` and
``well baby``.

The generator keeps the live set in plain Python, so it can also answer
every read the workload issues (``expected_*``) without Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import random

COPAYS = (-1.0, 0.0, 10.0, 25.0, 50.5, 175.0, 178.0, 240.0)
COPAY_PROBES = (-1.0, 0.0, 10.0, 175.0, 178.0)
SERVICE_NAMES = ("Yearly physical", "well baby", "dental", "vision", "x-ray")
PLAN_TYPES = ("inNetwork", "outOfNetwork")
ORGS = ("example.com", "example.org")

#: one per violation class; each must make ``validate`` reject the doc
INVALID_KINDS = ("bad_date", "missing_required", "additional_property", "malformed_json")

_FIRST_DAY = dt.date(2015, 1, 1).toordinal()
_N_DAYS = 3650


class PlanStream:
    """Produces CDC batches of plan documents and tracks the live set.

    Each batch holds ``inserts`` new plans, ``updates`` full-document
    rewrites of live plans, ``deletes`` of live plans and ``invalid``
    schema-invalid documents (under fresh keys, cycling through
    ``INVALID_KINDS``). Every key appears at most once per batch.
    """

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.live: dict[str, dict] = {}  # CDC key -> current document
        self.version: dict[str, int] = {}  # CDC key -> batch index of last write
        self.seq = 0
        self.next_plan = 0
        self.batches = 0
        self.invalid_sent = 0
        self.docs_sent = 0
        self.bytes_sent = 0

    # -- documents ---------------------------------------------------------

    def _costshare(self, oid: str) -> dict:
        r = self.rng
        return {
            "deductible": float(r.randrange(0, 5000, 50)),
            "_org": r.choice(ORGS),
            "copay": r.choice(COPAYS),
            "objectId": oid,
            "objectType": "membercostshare",
        }

    def _plan(self, oid: str) -> dict:
        r = self.rng
        services = [
            {
                "linkedService": {
                    "_org": r.choice(ORGS),
                    "objectId": f"{oid}-sv{j}",
                    "objectType": "service",
                    "name": r.choice(SERVICE_NAMES),
                },
                "planserviceCostShares": self._costshare(f"{oid}-pscs{j}"),
                "_org": r.choice(ORGS),
                "objectId": f"{oid}-ps{j}",
                "objectType": "planservice",
            }
            for j in range(r.randint(0, 4))
        ]
        day = dt.date.fromordinal(_FIRST_DAY + r.randrange(_N_DAYS))
        return {
            "planCostShares": self._costshare(f"{oid}-cs"),
            "linkedPlanServices": services,
            "_org": r.choice(ORGS),
            "objectId": oid,
            "objectType": "plan",
            "planType": r.choice(PLAN_TYPES),
            "creationDate": day.strftime("%d-%m-%Y"),
        }

    def _new_oid(self) -> str:
        self.next_plan += 1
        return f"pl{self.next_plan:07d}"

    def _invalid(self, kind: str) -> str:
        doc = self._plan(self._new_oid())
        if kind == "bad_date":
            doc["creationDate"] = "31-02-2024"  # matches the pattern, not a date
        elif kind == "missing_required":
            del doc["objectType"]
        elif kind == "additional_property":
            doc["extraField"] = 1
        elif kind == "malformed_json":
            return json.dumps(doc)[:-7]
        else:
            raise ValueError(kind)
        return json.dumps(doc)

    # -- CDC batches -------------------------------------------------------

    def _record(self, key: str, op: str, doc: str | None) -> dict:
        self.seq += 1
        if doc is not None:
            self.docs_sent += 1
            self.bytes_sent += len(doc.encode())
        return {"key": key, "op": op, "seq": self.seq, "doc": doc}

    def batch(self, inserts: int, updates: int, deletes: int, invalid: int) -> list[dict]:
        r = self.rng
        self.batches += 1
        records = []
        touched = r.sample(sorted(self.live), min(updates + deletes, len(self.live)))
        for key in touched[:updates]:
            doc = self._plan(self.live[key]["objectId"])
            self.live[key] = doc
            self.version[key] = self.batches
            records.append(self._record(key, "update", json.dumps(doc)))
        for key in touched[updates:]:
            del self.live[key]
            del self.version[key]
            records.append(self._record(key, "delete", None))
        for _ in range(inserts):
            doc = self._plan(self._new_oid())
            key = f"plan_{doc['objectId']}"
            self.live[key] = doc
            self.version[key] = self.batches
            records.append(self._record(key, "insert", json.dumps(doc)))
        for _ in range(invalid):
            kind = INVALID_KINDS[self.invalid_sent % len(INVALID_KINDS)]
            self.invalid_sent += 1
            records.append(self._record(f"plan_bad{self.invalid_sent:07d}", "insert", self._invalid(kind)))
        r.shuffle(records)
        return records

    def live_json(self) -> list[str]:
        return [json.dumps(self.live[k]) for k in sorted(self.live)]

    def live_bytes(self) -> int:
        return sum(len(s.encode()) for s in self.live_json())

    # -- answers to the read mix, in plain Python ----------------------------

    def expected_search_plans(self, params: dict) -> int:
        return sum(all(d.get(f) == v for f, v in params.items()) for d in self.live.values())

    def expected_parents_having_service(self, name: str) -> int:
        return sum(
            any(ps["linkedService"]["name"] == name for ps in d["linkedPlanServices"])
            for d in self.live.values()
        )

    def expected_parents_by_copay(self, less_than: bool, value: float) -> int:
        def hit(c: float) -> bool:
            return c < value if less_than else c > value

        return sum(
            hit(d["planCostShares"]["copay"])
            or any(hit(ps["planserviceCostShares"]["copay"]) for ps in d["linkedPlanServices"])
            for d in self.live.values()
        )

    def expected_children(self, child_table: str, params: dict) -> int:
        per_plan = {
            "planservices": lambda d: len(d["linkedPlanServices"]),
            "services": lambda d: len(d["linkedPlanServices"]),
            "membercostshares": lambda d: 1 + len(d["linkedPlanServices"]),
        }[child_table]
        return sum(
            per_plan(d)
            for d in self.live.values()
            if all(d.get(f) == v for f, v in params.items())
        )
