"""OP-G1 document shredding — nested plan documents → normalized tables.

The reference recursively walks each JSON document and stores every
nested object standalone under ``objectType_objectId`` (saveObjectRecursive,
src/utils/elasticSearch.ts:12-49; ES twin saveESRecursive,
src/utils/rabbitMq.ts:50-81), then writes parent-child join-field edges
(generateRelationships*, elasticSearch.ts:50-151).

Spark-first: the hierarchy depth is schema-bounded (plan →
{membercostshare, planservice} → {membercostshare, service}), so the
imperative recursion collapses into per-document expressions — no UDFs,
no joins, embarrassingly parallel. Each table's row is written once, as
a struct over the nested element it comes from (``plan_row`` over the
document, ``child_rows`` over the document's children); a child table
is the explode of its rows, and ``operators/search.py`` evaluates the
same rows in place. Tables:

- typed per-type tables: ``plans``, ``membercostshares``,
  ``planservices``, ``services``
- ``edges(child_id, parent_id, rel_name)`` — rel_name vocabulary matches
  the reference's ES join mapping (elasticSearch.ts:156-165)
- ``entities(id, object_type, payload)`` — the Redis-keyspace mirror
  (payload = canonical JSON of the fragment)

Scale: each table is a projection of the input scan; edges/entities
union-all without shuffles. Partition the entity store by object_type,
bucket by id for point lookups.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: rel_name vocabulary (elasticSearch.ts:156-165)
REL_PLAN = "plan"
REL_PLAN_COSTSHARE = "plan_membercostshare"
REL_PLAN_SERVICE = "plan_planservice"
REL_SERVICE_COSTSHARE = "planservice_membercostshare"
REL_SERVICE_SERVICE = "planservice_service"

#: the tables ``shred`` gives, in order
TABLES = ("plans", "membercostshares", "planservices", "services", "edges", "entities")


def object_key(object_type: Column, object_id: Column) -> Column:
    """OP-F1: objectType_objectId (elasticSearch.ts:44)."""
    return F.concat_ws("_", object_type, object_id)


def _q(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _key(obj: str) -> str:
    """SQL for :func:`object_key` of the object ``obj``."""
    return f"concat_ws('_', {obj}.objectType, {obj}.objectId)"


def _struct(fields: Sequence[tuple[str, str]]) -> str:
    return "named_struct(" + ", ".join(f"'{name}', {sql}" for name, sql in fields) + ")"


#: the document's own key, as the parent key of its direct children
_PLAN_KEY = f"concat_ws('_', '{REL_PLAN}', objectId)"

# The rows are SQL over the document's columns: one parsed expression
# costs one call to the JVM, where a Column tree costs one per node.


def _plan_fields(carry: Sequence[str]) -> list[tuple[str, str]]:
    return [
        ("id", "concat_ws('_', objectType, objectId)"),
        *[(c, _q(c)) for c in carry],
        *[(c, c) for c in ("objectId", "objectType", "_org", "planType", "creationDate")],
        ("costshare_id", "planCostShares.objectId"),
    ]


def plan_row(carry: Sequence[str] = ()) -> Column:
    """A document's ``plans`` row: a struct over the document's columns."""
    return F.expr(_struct(_plan_fields(carry)))


def _fragment(obj: str, fields: Sequence[str], carry: Sequence[str], parent_key: str, rel: str) -> str:
    """The row of stored fragment ``obj``: its key, the carried columns,
    the fragment's own ``fields``, its parent's key and its relation."""
    return _struct([
        ("id", _key(obj)),
        *[(c, _q(c)) for c in carry],
        *[(f, f"{obj}.{_q(f)}") for f in fields],
        ("parent_key", parent_key),
        ("rel_name", f"'{rel}'"),
    ])


def _planservice(ps: str, carry: Sequence[str]) -> str:
    return _struct([
        ("id", _key(ps)),
        *[(c, _q(c)) for c in carry],
        *[(c, f"{ps}.{c}") for c in ("objectId", "objectType", "_org")],
        ("service_id", f"{ps}.linkedService.objectId"),
        ("costshare_id", f"{ps}.planserviceCostShares.objectId"),
        ("parent_key", _PLAN_KEY),
    ])


def child_rows(schema: T.StructType, table: str, carry: Sequence[str] = ()) -> Column:
    """The rows child ``table`` holds for one document, as an array of
    structs over the document's columns (``schema`` is the documents').

    A child belongs to the document it is nested in. An absent cost share
    or service (null objectId) has no row; a planservice always has one.
    """
    fields = {f.name: f.dataType for f in schema.fields}
    if table == "planservices":
        return F.expr(f"transform(linkedPlanServices, _ps -> {_planservice('_ps', carry)})")
    if table == "services":
        names = fields["linkedPlanServices"].elementType["linkedService"].dataType.fieldNames()
        row = _fragment("_ps.linkedService", names, carry, _key("_ps"), REL_SERVICE_SERVICE)
        rows = f"transform(linkedPlanServices, _ps -> {row})"
    elif table == "membercostshares":
        names = fields["planCostShares"].fieldNames()
        plan_level = _fragment("planCostShares", names, carry, _PLAN_KEY, REL_PLAN_COSTSHARE)
        row = _fragment("_ps.planserviceCostShares", names, carry, _key("_ps"), REL_SERVICE_COSTSHARE)
        rows = f"concat(array({plan_level}), coalesce(transform(linkedPlanServices, _ps -> {row}), array()))"
    else:
        raise KeyError(table)
    return F.expr(f"filter({rows}, _r -> _r.objectId IS NOT NULL)")


class Shredded(Mapping[str, DataFrame]):
    """The tables of nested plan documents, read-only, keyed as
    ``TABLES``. ``documents`` is the input frame; each table is built the
    first time its key is read, so holding the mapping costs nothing."""

    def __init__(self, documents: DataFrame, carry: Sequence[str] = ()) -> None:
        self.documents = documents
        self.carry = tuple(carry)
        self._built: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._built:
            if name not in TABLES:
                raise KeyError(name)
            self._built[name] = self._build(name)
        return self._built[name]

    def __iter__(self) -> Iterator[str]:
        return iter(TABLES)

    def __len__(self) -> int:
        return len(TABLES)

    def rows(self, table: str) -> Column:
        """What typed ``table`` holds for one document, over the
        documents' columns: ``plan_row`` for ``plans``, ``child_rows``
        for a child table."""
        if table == "plans":
            return plan_row(self.carry)
        return child_rows(self.documents.schema, table, self.carry)

    def where(self, condition: Column) -> Shredded:
        """The mapping over the documents that satisfy ``condition``."""
        return Shredded(self.documents.filter(condition), self.carry)

    def _build(self, name: str) -> DataFrame:
        if name == "plans":
            return self.documents.selectExpr(*[f"{sql} AS {_q(n)}" for n, sql in _plan_fields(self.carry)])
        if name == "edges":
            return edges(self)
        if name == "entities":
            return entities(self, self.carry)
        return self.documents.select(F.inline(self.rows(name)))


def shred(plans: DataFrame, carry: Sequence[str] = ()) -> Shredded:
    """Decompose nested plan documents into normalized tables.

    ``plans`` must conform to the compiled plan StructType
    (plans/json_schema_compiler.py) — i.e. come out of ``validate()``'s
    valid split. Columns named in ``carry`` (extra columns of ``plans``,
    e.g. a CDC key and seq) are copied from each document onto every row
    it shreds into, in the typed tables and ``entities``, ahead of the
    payload columns; with the default ``()`` the output schema is the
    plain one.

    Returns a :class:`Shredded` mapping over ``TABLES`` that holds
    ``plans`` as ``.documents`` and builds each table when it is first
    read: ``shred(docs)`` runs no Spark analysis until a table is asked for.
    """
    return Shredded(plans, carry)


def edges(tables: Mapping[str, DataFrame]) -> DataFrame:
    """OP-C5: the relationship-edge table (child_id, parent_id, rel_name).

    Roots appear with a null parent and rel_name='plan', mirroring the
    root join-field write (elasticSearch.ts:101-106).
    """
    roots = tables["plans"].select(
        F.col("id").alias("child_id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.lit(REL_PLAN).alias("rel_name"),
    )
    cs = tables["membercostshares"].select(
        F.col("id").alias("child_id"),
        F.col("parent_key").alias("parent_id"),
        "rel_name",
    )
    ps = tables["planservices"].select(
        F.col("id").alias("child_id"),
        F.col("parent_key").alias("parent_id"),
        F.lit(REL_PLAN_SERVICE).alias("rel_name"),
    )
    sv = tables["services"].select(
        F.col("id").alias("child_id"),
        F.col("parent_key").alias("parent_id"),
        "rel_name",
    )
    return roots.unionByName(cs).unionByName(ps).unionByName(sv)


def entities(tables: Mapping[str, DataFrame], carry: Sequence[str] = ()) -> DataFrame:
    """The Redis-keyspace mirror: (id, object_type, payload-json).

    payload is the canonical JSON of the stored fragment (children by
    reference only — matching what saveObjectRecursive persists after
    stripping nested objects, elasticSearch.ts:30-42).
    """
    outs = []
    skip = {"id", "parent_key", "rel_name", *carry}
    for name in ("plans", "membercostshares", "planservices", "services"):
        df = tables[name]
        payload_cols = [c for c in df.columns if c not in skip]
        outs.append(
            df.select(
                "id",
                *carry,
                F.col("objectType").alias("object_type"),
                F.to_json(F.struct(*payload_cols)).alias("payload"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
