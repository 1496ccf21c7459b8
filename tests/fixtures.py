"""Deterministic plan-document fixtures mirroring the reference's canonical
test document (src/jsonFile.json:1-49, copied to data/plan_document.json
next to its schema, data/plan_schema.json) and FIXTURES.md §A constraints:
unique objectIds across nesting levels, one parent per child, boundary
copay values from the reference's query corpus, and the two service
names its match_phrase tests use ('Yearly physical', 'well baby')."""

from __future__ import annotations

import json
from pathlib import Path

DATA = Path(__file__).resolve().parent / "data"

COPAY_BOUNDARIES = [-1.0, 0.0, 10.0, 175.0, 178.0]
SERVICE_NAMES = ["Yearly physical", "well baby", "dental", "vision"]


def make_plan(i: int, n_services: int = 2) -> dict:
    return {
        "planCostShares": {
            "deductible": float(1000 + i),
            "_org": "example.com",
            "copay": COPAY_BOUNDARIES[i % len(COPAY_BOUNDARIES)],
            "objectId": f"cs-{i:05d}",
            "objectType": "membercostshare",
        },
        "linkedPlanServices": [
            {
                "linkedService": {
                    "_org": "example.com",
                    "objectId": f"svc-{i:05d}-{j}",
                    "objectType": "service",
                    "name": SERVICE_NAMES[(i + j) % len(SERVICE_NAMES)],
                },
                "planserviceCostShares": {
                    "deductible": 10.0,
                    "_org": "example.com",
                    "copay": COPAY_BOUNDARIES[(i + j) % len(COPAY_BOUNDARIES)],
                    "objectId": f"pscs-{i:05d}-{j}",
                    "objectType": "membercostshare",
                },
                "_org": "example.com",
                "objectId": f"ps-{i:05d}-{j}",
                "objectType": "planservice",
            }
            for j in range(n_services)
        ],
        "_org": "example.com",
        "objectId": f"plan-{i:05d}",
        "objectType": "plan",
        "planType": "inNetwork" if i % 2 == 0 else "outOfNetwork",
        "creationDate": f"{(i % 28) + 1:02d}-{(i % 12) + 1:02d}-20{20 + i % 5}",
    }


def plan_jsons(n: int = 20, n_services: int = 2) -> list[str]:
    return [json.dumps(make_plan(i, n_services)) for i in range(n)]


def reference_schema() -> dict:
    """The plan JSON Schema (draft-04, closed-world objects; required
    objectId, objectType and, on the plan, creationDate)."""
    return json.loads((DATA / "plan_schema.json").read_text())


def canonical_plan() -> dict:
    """The reference's canonical plan document: one plan cost share and
    two plan services ('Yearly physical', 'well baby')."""
    return json.loads((DATA / "plan_document.json").read_text())
