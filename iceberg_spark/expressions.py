"""Expression / predicate algebra: the pushdown language.

Reference: api/src/main/java/org/apache/iceberg/expressions/Expression.java:26
(operation set), Expressions.java:33-283 (factory), Binder.java:35,
Evaluator.java:36, InclusiveMetricsEvaluator.java:48,
StrictMetricsEvaluator.java:53, Projections.java:28 (+ ProjectionUtil),
RewriteNot.java; spec format/expressions-spec.md:21 and format/spec.md:1050
(partition predicate projection).

Design (SURVEY §2.C): one Python expression tree serves four consumers:
  1. `to_spark` -> pyspark Column (data-level residual filter; Catalyst
     pushes it into the Parquet scan),
  2. `to_sql`   -> ANSI SQL string (DuckDB oracles, debugging),
  3. metric evaluators -> prune files from manifest stats (local planning),
  4. partition projection -> predicates on partition tuples (hidden
     partitioning; manifest & manifest-list pruning, Spark-side too).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from typing import Any, Optional, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from .schema import NestedField, Schema
from .transforms import Identity, Transform, parse_transform

# operations ----------------------------------------------------------------

LT, LT_EQ, GT, GT_EQ, EQ, NOT_EQ = "lt", "lt_eq", "gt", "gt_eq", "eq", "not_eq"
IN, NOT_IN = "in", "not_in"
IS_NULL, NOT_NULL = "is_null", "not_null"
IS_NAN, NOT_NAN = "is_nan", "not_nan"
STARTS_WITH, NOT_STARTS_WITH = "starts_with", "not_starts_with"
# geospatial bbox predicates on geometry/geography columns (literal = BBox).
# Reference api/.../geospatial/GeospatialPredicateEvaluators.java.
ST_INTERSECTS, ST_DISJOINT = "st_intersects", "st_disjoint"
# exact polygon predicates on geometry columns (literal = geo.Polygon):
# point-in-polygon ray cast at the data level, exact rectangle-vs-polygon
# at the file-stats level (geo.py; the reference's metadata eval is bbox —
# engines layer exact ST_* via Sedona, here a pure-WKB point path)
ST_INTERSECTS_POLY = "st_intersects_poly"
ST_DISJOINT_POLY = "st_disjoint_poly"

_NEGATE = {
    LT: GT_EQ, GT_EQ: LT, GT: LT_EQ, LT_EQ: GT, EQ: NOT_EQ, NOT_EQ: EQ,
    IN: NOT_IN, NOT_IN: IN, IS_NULL: NOT_NULL, NOT_NULL: IS_NULL,
    IS_NAN: NOT_NAN, NOT_NAN: IS_NAN, STARTS_WITH: NOT_STARTS_WITH,
    NOT_STARTS_WITH: STARTS_WITH, ST_INTERSECTS: ST_DISJOINT,
    ST_DISJOINT: ST_INTERSECTS, ST_INTERSECTS_POLY: ST_DISJOINT_POLY,
    ST_DISJOINT_POLY: ST_INTERSECTS_POLY,
}
_FLIP = {LT: GT, GT: LT, LT_EQ: GT_EQ, GT_EQ: LT_EQ, EQ: EQ, NOT_EQ: NOT_EQ}


# expression nodes ----------------------------------------------------------


class Expr:
    def __and__(self, other):
        return and_(self, other)

    def __or__(self, other):
        return or_(self, other)

    def __invert__(self):
        return not_(self)


@dataclass(frozen=True)
class AlwaysTrue(Expr):
    def __repr__(self):
        return "true"


@dataclass(frozen=True)
class AlwaysFalse(Expr):
    def __repr__(self):
        return "false"


ALWAYS_TRUE = AlwaysTrue()
ALWAYS_FALSE = AlwaysFalse()


@dataclass(frozen=True)
class And(Expr):
    left: Expr
    right: Expr

    def __repr__(self):
        return f"({self.left} AND {self.right})"


@dataclass(frozen=True)
class Or(Expr):
    left: Expr
    right: Expr

    def __repr__(self):
        return f"({self.left} OR {self.right})"


@dataclass(frozen=True)
class Not(Expr):
    child: Expr

    def __repr__(self):
        return f"(NOT {self.child})"


@dataclass(frozen=True)
class Term:
    """A reference, optionally transform-wrapped: e.g. bucket(16, id)."""

    name: str
    transform: Optional[Transform] = None  # None == identity

    def __repr__(self):
        return f"{self.transform}({self.name})" if self.transform else self.name


@dataclass(frozen=True)
class Predicate(Expr):
    op: str
    term: Term
    literals: tuple = ()  # () for unary ops; (v,) binary; (v...) for IN

    @property
    def literal(self):
        return self.literals[0]

    def __repr__(self):
        if self.op in (IS_NULL, NOT_NULL, IS_NAN, NOT_NAN):
            return f"{self.term} {self.op}"
        if self.op in (IN, NOT_IN):
            return f"{self.term} {self.op} {list(self.literals)}"
        return f"{self.term} {self.op} {self.literal!r}"


# factory / DSL -------------------------------------------------------------


class ColumnRef:
    """`col('x') > 5`-style sugar producing Predicates."""

    def __init__(self, name: str, transform: Optional[Transform] = None):
        self._term = Term(name, transform)

    def __lt__(self, v):
        return Predicate(LT, self._term, (v,))

    def __le__(self, v):
        return Predicate(LT_EQ, self._term, (v,))

    def __gt__(self, v):
        return Predicate(GT, self._term, (v,))

    def __ge__(self, v):
        return Predicate(GT_EQ, self._term, (v,))

    def __eq__(self, v):  # noqa: E712
        return Predicate(EQ, self._term, (v,))

    def __ne__(self, v):
        return Predicate(NOT_EQ, self._term, (v,))

    def isin(self, *vs):
        vals = tuple(vs[0]) if len(vs) == 1 and isinstance(vs[0], (list, tuple, set)) else vs
        return Predicate(IN, self._term, tuple(vals))

    def not_in(self, *vs):
        vals = tuple(vs[0]) if len(vs) == 1 and isinstance(vs[0], (list, tuple, set)) else vs
        return Predicate(NOT_IN, self._term, tuple(vals))

    def is_null(self):
        return Predicate(IS_NULL, self._term)

    def not_null(self):
        return Predicate(NOT_NULL, self._term)

    def is_nan(self):
        return Predicate(IS_NAN, self._term)

    def not_nan(self):
        return Predicate(NOT_NAN, self._term)

    def startswith(self, v):
        return Predicate(STARTS_WITH, self._term, (v,))


def col(name: str) -> ColumnRef:
    return ColumnRef(name)


def transform_col(transform: str, name: str) -> ColumnRef:
    return ColumnRef(name, parse_transform(transform))


def extract(name: str, path: str, type: str = "string") -> ColumnRef:
    """Typed path access into a `variant` column: extract('meta', '$.a',
    'long') > 5. Reference api/.../expressions/UnboundExtract.java:25."""
    from .transforms import VariantExtract

    return ColumnRef(name, VariantExtract(path, type))


def st_intersects(name: str, box) -> Predicate:
    """Bounding-box intersection predicate on a geometry/geography column:
    st_intersects('geom', (xmin, ymin, xmax, ymax)). For geography columns
    the X range of the box may wrap the antimeridian (xmin > xmax)."""
    from .geo import BBox

    return Predicate(ST_INTERSECTS, Term(name), (BBox(*box),))


def st_disjoint(name: str, box) -> Predicate:
    from .geo import BBox

    return Predicate(ST_DISJOINT, Term(name), (BBox(*box),))


def st_intersects_polygon(name: str, ring) -> Predicate:
    """EXACT polygon-intersection predicate on a geometry column of
    POINTS: st_intersects_polygon('geom', [(x, y), ...]). Data-level
    point-in-polygon ray cast; file-level exact rectangle-vs-polygon
    pruning on the manifest bbox bounds."""
    from .geo import Polygon

    return Predicate(ST_INTERSECTS_POLY, Term(name), (Polygon(ring),))


def st_disjoint_polygon(name: str, ring) -> Predicate:
    from .geo import Polygon

    return Predicate(ST_DISJOINT_POLY, Term(name), (Polygon(ring),))


def and_(*exprs: Expr) -> Expr:
    out: Expr = ALWAYS_TRUE
    for e in exprs:
        if isinstance(e, AlwaysFalse):
            return ALWAYS_FALSE
        if isinstance(e, AlwaysTrue):
            continue
        out = e if isinstance(out, AlwaysTrue) else And(out, e)
    return out


def or_(*exprs: Expr) -> Expr:
    out: Expr = ALWAYS_FALSE
    for e in exprs:
        if isinstance(e, AlwaysTrue):
            return ALWAYS_TRUE
        if isinstance(e, AlwaysFalse):
            continue
        out = e if isinstance(out, AlwaysFalse) else Or(out, e)
    return out


def not_(e: Expr) -> Expr:
    return rewrite_not(Not(e))


def conjuncts(e: Expr):
    """The top-level AND terms of `e`, left to right."""
    if isinstance(e, And):
        yield from conjuncts(e.left)
        yield from conjuncts(e.right)
    else:
        yield e


def rewrite_not(e: Expr) -> Expr:
    """Push NOT to the leaves (De Morgan). Reference RewriteNot.java."""
    if isinstance(e, Not):
        c = e.child
        if isinstance(c, AlwaysTrue):
            return ALWAYS_FALSE
        if isinstance(c, AlwaysFalse):
            return ALWAYS_TRUE
        if isinstance(c, Not):
            return rewrite_not(c.child)
        if isinstance(c, And):
            return Or(rewrite_not(Not(c.left)), rewrite_not(Not(c.right)))
        if isinstance(c, Or):
            return And(rewrite_not(Not(c.left)), rewrite_not(Not(c.right)))
        if isinstance(c, Predicate):
            return Predicate(_NEGATE[c.op], c.term, c.literals)
        return e
    if isinstance(e, And):
        return And(rewrite_not(e.left), rewrite_not(e.right))
    if isinstance(e, Or):
        return Or(rewrite_not(e.left), rewrite_not(e.right))
    return e


# literal coercion ----------------------------------------------------------


def coerce_literal(v: Any, typ: str) -> Any:
    """Parse/convert a Python literal to the column's type domain."""
    if v is None:
        return None
    if typ in ("geometry", "geography"):
        from .geo import BBox, Polygon

        if isinstance(v, (BBox, Polygon)):
            return v
        return BBox(*v)
    if typ == "date":
        if isinstance(v, str):
            return _dt.date.fromisoformat(v)
        if isinstance(v, _dt.datetime):
            return v.date()
        return v
    if typ in ("timestamp", "timestamp_ntz"):
        if isinstance(v, str):
            return _dt.datetime.fromisoformat(v)
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            return _dt.datetime(v.year, v.month, v.day)
        return v
    if typ == "long" or typ == "int":
        return int(v)
    if typ in ("double", "float"):
        return float(v)
    if typ.startswith("decimal"):
        from decimal import Decimal

        return Decimal(str(v))
    return v


# binding -------------------------------------------------------------------


@dataclass(frozen=True)
class BoundTerm:
    field: NestedField
    transform: Optional[Transform]
    # set by bind() for VariantExtract terms whose (column, path, type)
    # is property-declared shredded: per-file stats live under this
    # synthetic manifest key with this primitive type, so the metrics
    # evaluators can prune exactly like an identity column
    stats_name: Optional[str] = None
    stats_type: Optional[str] = None

    @property
    def name(self):
        return self.field.name

    @property
    def produced_type(self) -> str:
        if self.transform is None:
            return self.field.type
        return self.transform.result_type(self.field.type)


@dataclass(frozen=True)
class BoundPredicate(Expr):
    op: str
    term: BoundTerm
    literals: tuple = ()

    @property
    def literal(self):
        return self.literals[0]

    def __repr__(self):
        t = f"{self.term.transform}({self.term.name})" if self.term.transform else self.term.name
        return f"{t} {self.op} {list(self.literals) if self.literals else ''}"


def bind(expr: Expr, schema: Schema) -> Expr:
    """Resolve names -> fields, coerce literals. Reference Binder.java:35."""
    if isinstance(expr, (AlwaysTrue, AlwaysFalse, BoundPredicate)):
        return expr
    if isinstance(expr, And):
        return and_(bind(expr.left, schema), bind(expr.right, schema))
    if isinstance(expr, Or):
        return or_(bind(expr.left, schema), bind(expr.right, schema))
    if isinstance(expr, Not):
        return bind(rewrite_not(expr), schema)
    if isinstance(expr, Predicate):
        f = schema.find_field(expr.term.name)
        if not isinstance(f.type, str):
            raise ValueError(f"cannot filter on non-primitive column {f.name}")
        if expr.op in (ST_INTERSECTS_POLY, ST_DISJOINT_POLY) \
                and f.type not in ("geometry", "geography"):
            raise NotImplementedError(
                "exact polygon predicates apply to geometry/geography "
                f"columns only (got {f.name}: {f.type})")
        tr = expr.term.transform
        if tr is not None and not tr.can_transform(f.type):
            raise ValueError(f"{tr} cannot apply to {f.name}: {f.type}")
        # literals live in the transform's result domain (e.g. the extract
        # target type), not the source column's
        target = tr.result_type(f.type) if tr is not None else f.type
        lits = tuple(coerce_literal(v, target) for v in expr.literals)
        # shredded variant path: resolve the extract to its synthetic
        # stats column so metrics eval prunes on the companion's bounds
        sname = stype = None
        from .transforms import VariantExtract

        if isinstance(tr, VariantExtract):
            for sp in getattr(schema, "shredded", ()):
                if (sp.parent_id == f.field_id and sp.path == tr.path
                        and sp.type == tr.type):
                    sname, stype = sp.stats_name, sp.type
                    break
        bt = BoundTerm(f, expr.term.transform, sname, stype)
        if expr.op == IN and len(lits) == 1:
            return BoundPredicate(EQ, bt, lits)
        if expr.op == NOT_IN and len(lits) == 1:
            return BoundPredicate(NOT_EQ, bt, lits)
        return BoundPredicate(expr.op, bt, lits)
    raise TypeError(f"cannot bind {expr!r}")


# -> Spark Column -----------------------------------------------------------


def to_spark(expr: Expr, colfn=F.col) -> Column:
    """Bound/unbound expression -> pyspark Column (the data-level filter)."""
    if isinstance(expr, AlwaysTrue):
        return F.lit(True)
    if isinstance(expr, AlwaysFalse):
        return F.lit(False)
    if isinstance(expr, And):
        return to_spark(expr.left, colfn) & to_spark(expr.right, colfn)
    if isinstance(expr, Or):
        return to_spark(expr.left, colfn) | to_spark(expr.right, colfn)
    if isinstance(expr, Not):
        return ~to_spark(expr.child, colfn)
    if isinstance(expr, (Predicate, BoundPredicate)):
        name = expr.term.name
        c = colfn(name)
        tr = expr.term.transform
        if tr is not None and not isinstance(tr, Identity):
            src = expr.term.field.type if isinstance(expr, BoundPredicate) else None
            if src is None:
                raise ValueError("transform predicates must be bound before to_spark")
            c = tr.spark_col(c, src)
        op, lits = expr.op, expr.literals
        if op in (ST_INTERSECTS, ST_DISJOINT):
            from .geo import st_intersects_bbox

            geog = (isinstance(expr, BoundPredicate)
                    and expr.term.field.type == "geography")
            hit = st_intersects_bbox(c, lits[0], geography=geog)
            return hit if op == ST_INTERSECTS else (c.isNotNull() & ~hit)
        if op in (ST_INTERSECTS_POLY, ST_DISJOINT_POLY):
            from .geo import st_intersects_polygon as _poly_hit

            geog = (isinstance(expr, BoundPredicate)
                    and expr.term.field.type == "geography")
            hit = _poly_hit(c, lits[0], geography=geog)
            return (hit if op == ST_INTERSECTS_POLY
                    else (c.isNotNull() & ~hit))
        if op == LT:
            return c < F.lit(lits[0])
        if op == LT_EQ:
            return c <= F.lit(lits[0])
        if op == GT:
            return c > F.lit(lits[0])
        if op == GT_EQ:
            return c >= F.lit(lits[0])
        if op == EQ:
            return c == F.lit(lits[0])
        if op == NOT_EQ:
            return c != F.lit(lits[0])
        if op == IN:
            return c.isin(*lits)
        if op == NOT_IN:
            return ~c.isin(*lits)
        if op == IS_NULL:
            return c.isNull()
        if op == NOT_NULL:
            return c.isNotNull()
        if op == IS_NAN:
            return F.isnan(c)
        if op == NOT_NAN:
            return ~F.isnan(c)
        if op == STARTS_WITH:
            return c.startswith(lits[0])
        if op == NOT_STARTS_WITH:
            return ~c.startswith(lits[0])
    raise TypeError(f"cannot convert {expr!r}")


def to_arrow(expr: Expr, colfn):
    """Bound expression -> pyarrow.dataset Expression (vectorized local
    planning over manifest Arrow tables). Only identity-term predicates are
    convertible — callers fall back to row-at-a-time eval on TypeError.
    `colfn(name)` must return the ds.field() for a term name."""
    import pyarrow.dataset as ds

    if isinstance(expr, AlwaysTrue):
        return ds.scalar(True)
    if isinstance(expr, AlwaysFalse):
        return ds.scalar(False)
    if isinstance(expr, And):
        return to_arrow(expr.left, colfn) & to_arrow(expr.right, colfn)
    if isinstance(expr, Or):
        return to_arrow(expr.left, colfn) | to_arrow(expr.right, colfn)
    if isinstance(expr, Not):
        return ~to_arrow(expr.child, colfn)
    if isinstance(expr, (Predicate, BoundPredicate)):
        tr = expr.term.transform
        if tr is not None and not isinstance(tr, Identity):
            raise TypeError("transform predicates are not arrow-convertible")
        c = colfn(expr.term.name)
        op, lits = expr.op, expr.literals
        if op == LT:
            return c < lits[0]
        if op == LT_EQ:
            return c <= lits[0]
        if op == GT:
            return c > lits[0]
        if op == GT_EQ:
            return c >= lits[0]
        if op == EQ:
            return c == lits[0]
        if op == NOT_EQ:
            return c != lits[0]
        if op == IN:
            return c.isin(list(lits))
        if op == NOT_IN:
            return ~c.isin(list(lits))
        if op == IS_NULL:
            return c.is_null()
        if op == NOT_NULL:
            return ~c.is_null()
    raise TypeError(f"cannot convert {expr!r}")


# -> SQL text ---------------------------------------------------------------


def _sql_lit(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bytes):
        return "X'" + v.hex() + "'"
    return str(v)


def to_sql(expr: Expr) -> str:
    if isinstance(expr, AlwaysTrue):
        return "TRUE"
    if isinstance(expr, AlwaysFalse):
        return "FALSE"
    if isinstance(expr, And):
        return f"({to_sql(expr.left)} AND {to_sql(expr.right)})"
    if isinstance(expr, Or):
        return f"({to_sql(expr.left)} OR {to_sql(expr.right)})"
    if isinstance(expr, Not):
        return f"(NOT {to_sql(expr.child)})"
    if isinstance(expr, (Predicate, BoundPredicate)):
        name = expr.term.name
        op, lits = expr.op, expr.literals
        cmp = {LT: "<", LT_EQ: "<=", GT: ">", GT_EQ: ">=", EQ: "=", NOT_EQ: "<>"}
        if op in cmp:
            return f"{name} {cmp[op]} {_sql_lit(lits[0])}"
        if op == IN:
            return f"{name} IN ({', '.join(_sql_lit(v) for v in lits)})"
        if op == NOT_IN:
            return f"{name} NOT IN ({', '.join(_sql_lit(v) for v in lits)})"
        if op == IS_NULL:
            return f"{name} IS NULL"
        if op == NOT_NULL:
            return f"{name} IS NOT NULL"
        if op == IS_NAN:
            return f"isnan({name})"
        if op == NOT_NAN:
            return f"NOT isnan({name})"
        if op == STARTS_WITH:
            return f"{name} LIKE {_sql_lit(lits[0] + '%')}"
        if op == NOT_STARTS_WITH:
            return f"{name} NOT LIKE {_sql_lit(lits[0] + '%')}"
    raise TypeError(f"cannot sql-ify {expr!r}")


# evaluation on plain rows (partition tuples) -------------------------------


def evaluate(expr: Expr, row: dict) -> bool:
    """Evaluate a bound identity-term expression on a dict row (partition
    tuples in local planning). Reference Evaluator.java:36."""
    if isinstance(expr, AlwaysTrue):
        return True
    if isinstance(expr, AlwaysFalse):
        return False
    if isinstance(expr, And):
        return evaluate(expr.left, row) and evaluate(expr.right, row)
    if isinstance(expr, Or):
        return evaluate(expr.left, row) or evaluate(expr.right, row)
    if isinstance(expr, Not):
        return not evaluate(expr.child, row)
    if isinstance(expr, (Predicate, BoundPredicate)):
        v = row.get(expr.term.name)
        tr = expr.term.transform
        if tr is not None and not isinstance(tr, Identity):
            src = (expr.term.field.type
                   if isinstance(expr, BoundPredicate) else None)
            v = tr.apply(v, src)
        op, lits = expr.op, expr.literals
        if op == IS_NULL:
            return v is None
        if op == NOT_NULL:
            return v is not None
        if v is None:
            return False
        if op == IS_NAN:
            return v != v
        if op == NOT_NAN:
            return v == v
        if op in (ST_INTERSECTS, ST_DISJOINT):
            from .geo import bbox_intersects, wkb_bbox

            b = wkb_bbox(v)
            if b is None:
                return False
            geog = (isinstance(expr, BoundPredicate)
                    and expr.term.field.type == "geography")
            hit = bbox_intersects(b, lits[0], geography=geog)
            return hit if op == ST_INTERSECTS else not hit
        if op in (ST_INTERSECTS_POLY, ST_DISJOINT_POLY):
            if (isinstance(expr, BoundPredicate)
                    and expr.term.field.type == "geography"):
                from .geo import SphPolygon, geography_intersects_polygon

                hit = geography_intersects_polygon(
                    v, SphPolygon(lits[0].ring))
            else:
                from .geo import geometry_intersects_polygon

                hit = geometry_intersects_polygon(v, lits[0])
            return hit if op == ST_INTERSECTS_POLY else not hit
        if op == LT:
            return v < lits[0]
        if op == LT_EQ:
            return v <= lits[0]
        if op == GT:
            return v > lits[0]
        if op == GT_EQ:
            return v >= lits[0]
        if op == EQ:
            return v == lits[0]
        if op == NOT_EQ:
            return v != lits[0]
        if op == IN:
            return v in lits
        if op == NOT_IN:
            return v not in lits
        if op == STARTS_WITH:
            return str(v).startswith(lits[0])
        if op == NOT_STARTS_WITH:
            return not str(v).startswith(lits[0])
    raise TypeError(f"cannot evaluate {expr!r}")


# partition projection ------------------------------------------------------


def _project_predicate(pred: BoundPredicate, pfield, inclusive: bool) -> Expr:
    """Project a bound row predicate through one partition field.

    pfield: PartitionField-like with .name, .source_name, .transform.
    Returns a predicate on the *partition column name*, or ALWAYS_TRUE
    (inclusive: cannot help) / ALWAYS_FALSE is never produced here.
    Reference: Projections.java:28, ProjectionUtil.java; spec spec.md:1050.
    """
    if pred.term.name != pfield.source_name:
        return ALWAYS_TRUE if inclusive else ALWAYS_FALSE
    if pred.op in (ST_INTERSECTS, ST_DISJOINT,
                   ST_INTERSECTS_POLY, ST_DISJOINT_POLY):
        # partition values carry no geo bounds; geo pruning happens at the
        # file-stats level (inclusive_metrics_eval), not via projection
        return ALWAYS_TRUE if inclusive else ALWAYS_FALSE
    if pred.term.transform is not None and not isinstance(pred.term.transform, Identity):
        # predicate already on a transform (e.g. bucket(16, id) = 3)
        if pred.term.transform == pfield.transform:
            return Predicate(pred.op, Term(pfield.name), pred.literals)
        return ALWAYS_TRUE if inclusive else ALWAYS_FALSE

    tr = pfield.transform
    src = pred.term.field.type
    op, lits = pred.op, pred.literals

    if isinstance(tr, Identity):
        return Predicate(op, Term(pfield.name), lits)

    if op in (IS_NULL, NOT_NULL) and tr.preserves_nullity:
        return Predicate(op, Term(pfield.name), ())

    def t(v):
        return tr.apply(v, src)

    def _decrement_value(v):
        import datetime as _dt

        if isinstance(v, bool) or not isinstance(
            v, (int, _dt.datetime, _dt.date)
        ):
            return None
        if isinstance(v, _dt.datetime):
            return v - _dt.timedelta(microseconds=1)
        if isinstance(v, _dt.date):
            return v - _dt.timedelta(days=1)
        return v - 1

    def _increment_value(v):
        import datetime as _dt

        if isinstance(v, bool) or not isinstance(
            v, (int, _dt.datetime, _dt.date)
        ):
            return None
        if isinstance(v, _dt.datetime):
            return v + _dt.timedelta(microseconds=1)
        if isinstance(v, _dt.date):
            return v + _dt.timedelta(days=1)
        return v + 1

    if tr.monotonic:
        if inclusive:
            if op in (EQ, STARTS_WITH):
                if op == STARTS_WITH:
                    # only truncate[str] can project starts_with; skip others
                    from .transforms import Truncate

                    if isinstance(tr, Truncate) and src == "string":
                        v = lits[0]
                        if len(v) >= tr.width:
                            return Predicate(STARTS_WITH, Term(pfield.name), (v[: tr.width],))
                        return Predicate(STARTS_WITH, Term(pfield.name), (v,))
                    return ALWAYS_TRUE
                return Predicate(EQ, Term(pfield.name), (t(lits[0]),))
            if op == IN:
                return Predicate(IN, Term(pfield.name), tuple({t(v) for v in lits}))
            if op in (LT, LT_EQ):
                v = lits[0]
                if op == LT:
                    # boundary-tight: ts < day-boundary projects to the
                    # *previous* partition (ProjectionUtil truncateLong/
                    # Timestamp semantics: project v-1 for LT)
                    dv = _decrement_value(v)
                    if dv is None:
                        return Predicate(LT_EQ, Term(pfield.name), (t(v),))
                    v = dv
                return Predicate(LT_EQ, Term(pfield.name), (t(v),))
            if op in (GT, GT_EQ):
                v = lits[0]
                if op == GT:
                    iv = _increment_value(v)
                    if iv is None:
                        return Predicate(GT_EQ, Term(pfield.name), (t(v),))
                    v = iv
                return Predicate(GT_EQ, Term(pfield.name), (t(v),))
            return ALWAYS_TRUE
        else:  # strict: all rows in partition satisfy pred
            if op == LT:
                return Predicate(LT, Term(pfield.name), (t(lits[0]),))
            if op == LT_EQ:
                return Predicate(LT, Term(pfield.name), (t(lits[0]),))
            if op == GT:
                return Predicate(GT, Term(pfield.name), (t(lits[0]),))
            if op == GT_EQ:
                return Predicate(GT, Term(pfield.name), (t(lits[0]),))
            if op == NOT_EQ:
                return Predicate(NOT_EQ, Term(pfield.name), (t(lits[0]),))
            if op == NOT_IN:
                return Predicate(NOT_IN, Term(pfield.name), tuple({t(v) for v in lits}))
            return ALWAYS_FALSE

    # non-monotonic (bucket): only eq/in project inclusively; not_eq/not_in strictly
    if inclusive:
        if op == EQ:
            return Predicate(EQ, Term(pfield.name), (t(lits[0]),))
        if op == IN:
            return Predicate(IN, Term(pfield.name), tuple({t(v) for v in lits}))
        return ALWAYS_TRUE
    else:
        if op == NOT_EQ:
            return Predicate(NOT_EQ, Term(pfield.name), (t(lits[0]),))
        if op == NOT_IN:
            return Predicate(NOT_IN, Term(pfield.name), tuple({t(v) for v in lits}))
        return ALWAYS_FALSE


def project(expr: Expr, spec, inclusive: bool = True) -> Expr:
    """Project a bound row-filter onto the partition tuple of `spec`.

    inclusive: partition might contain matching rows (for pruning).
    strict:    every row in partition matches (for metadata-only deletes).
    """
    if isinstance(expr, (AlwaysTrue, AlwaysFalse)):
        return expr
    if isinstance(expr, And):
        l, r = project(expr.left, spec, inclusive), project(expr.right, spec, inclusive)
        return and_(l, r)
    if isinstance(expr, Or):
        l, r = project(expr.left, spec, inclusive), project(expr.right, spec, inclusive)
        return or_(l, r)
    if isinstance(expr, Not):
        raise ValueError("rewrite_not before projecting")
    if isinstance(expr, BoundPredicate):
        parts = []
        for pf in spec.fields:
            p = _project_predicate(expr, pf, inclusive)
            parts.append(p)
        if inclusive:
            # AND of what each partition field can guarantee; TRUE when none help
            return and_(*parts)
        else:
            # strict: any partition field strictly implying the predicate works
            return or_(*parts)
    raise TypeError(f"cannot project {expr!r}")


# metrics evaluators --------------------------------------------------------


class FileStats:
    """Per-file column stats view: maps column name -> (min, max, null_count,
    nan_count, value_count); record_count for the file."""

    def __init__(self, record_count, stats: dict):
        self.record_count = record_count
        self.stats = stats or {}

    def get(self, name):
        return self.stats.get(name)


def _cmp_ready(a, b):
    try:
        return (a < b) or True
    except TypeError:
        return False


def _stat_domain(v, lit):
    """Lift a manifest stat written under a PRE-promotion column type into
    the literal's (post-promotion) domain so bounds stay comparable:
    date -> timestamp (midnight) and date/timestamp -> int epoch-nanos
    (timestamp_ns). Unknown combinations return the stat unchanged and the
    caller's _cmp_ready guard keeps evaluation conservative."""
    import datetime as _dt

    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime) \
            and isinstance(lit, _dt.datetime):
        return _dt.datetime.combine(v, _dt.time.min)
    if isinstance(v, (_dt.date, _dt.datetime)) and isinstance(lit, int) \
            and not isinstance(lit, bool):
        # exact integer micros (float epoch-seconds silently truncates
        # ~1% of microsecond values 1us low — unsafe for a max bound)
        from .transforms import _to_micros

        d = v
        if isinstance(d, _dt.datetime) and d.tzinfo is not None:
            d = d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return _to_micros(d) * 1000
    return v


def inclusive_metrics_eval(expr: Expr, fs: FileStats) -> bool:
    """True if the file *might* contain rows matching expr.
    Reference InclusiveMetricsEvaluator.java:48."""
    if isinstance(expr, AlwaysTrue):
        return True
    if isinstance(expr, AlwaysFalse):
        return False
    if isinstance(expr, And):
        return inclusive_metrics_eval(expr.left, fs) and inclusive_metrics_eval(expr.right, fs)
    if isinstance(expr, Or):
        return inclusive_metrics_eval(expr.left, fs) or inclusive_metrics_eval(expr.right, fs)
    if isinstance(expr, Not):
        return inclusive_metrics_eval(rewrite_not(expr), fs)
    if isinstance(expr, BoundPredicate):
        if expr.term.transform is not None and not isinstance(expr.term.transform, Identity):
            # stats are on source values; transform predicates can't
            # prune — EXCEPT shredded variant paths, whose companion
            # columns have real typed bounds under the synthetic key
            if getattr(expr.term, "stats_name", None) is None:
                return True
            s = fs.get(expr.term.stats_name)
        else:
            s = fs.get(expr.term.name)
        if s is None:
            return True
        mn, mx, nulls, nans, vc = s
        # legacy manifests may carry NaN bounds (pre-fix footer stats);
        # the spec forbids them — treat as absent
        if isinstance(mn, float) and mn != mn:
            mn = None
        if isinstance(mx, float) and mx != mx:
            mx = None
        op, lits = expr.op, expr.literals
        all_null = vc is not None and nulls is not None and nulls == vc and vc > 0
        # InclusiveMetricsEvaluator.containsNaNsOnly: every value is NaN
        all_nan = nans is not None and vc is not None and nans == vc and vc > 0
        if op == IS_NULL:
            return nulls is None or nulls > 0
        if op == NOT_NULL:
            return not all_null
        if all_null:
            return False
        if op == IS_NAN:
            return nans is None or nans > 0
        if op == NOT_NAN:
            return not all_nan
        # Engine NaN ordering (Spark and DuckDB agree): NaN > any literal,
        # so gt/gtEq may match NaN rows regardless of the NaN-free max;
        # NaN never matches lt/ltEq/eq/in/startsWith (literals are non-NaN).
        floaty = (getattr(expr.term, "stats_type", None)
                  or getattr(expr.term.field, "type", None)) in (
                      "float", "double")
        if op in (GT, GT_EQ) and floaty and (nans is None or nans > 0):
            return True
        # all-NaN files can't match lt/ltEq/eq/in/startsWith (literals are
        # non-NaN) — but NaN != x and NaN NOT IN (...) ARE true under the
        # engine ordering, so not_* ops must keep the file
        if all_nan and op in (LT, LT_EQ, EQ, IN, STARTS_WITH):
            return False
        if op in (ST_INTERSECTS, ST_DISJOINT):
            if op == ST_DISJOINT:
                return True  # any file may hold a geometry outside the box
            from .geo import bbox_intersects, stats_bbox

            fb = stats_bbox(mn, mx)
            if fb is None:
                return True
            geog = expr.term.field.type == "geography"
            return bbox_intersects(fb, lits[0], geography=geog)
        if op in (ST_INTERSECTS_POLY, ST_DISJOINT_POLY):
            if op == ST_DISJOINT_POLY:
                return True  # any file may hold a point outside the ring
            from .geo import bbox_intersects_polygon, stats_bbox

            fb = stats_bbox(mn, mx)
            if fb is None:
                return True
            if expr.term.field.type == "geography":
                # great-circle edges bulge poleward past their planar
                # chords, so the planar rectangle-vs-polygon test is
                # unsound here; prune on the polygon's spherical bbox
                # (exact per-edge latitude extremes, wrap-aware lon)
                from .geo import SphPolygon, bbox_intersects, \
                    sph_polygon_bbox

                qb = sph_polygon_bbox(SphPolygon(lits[0].ring),
                                      lits[0].ring)
                return bbox_intersects(fb, qb, geography=True)
            # exact rectangle-vs-polygon: tighter than bbox-vs-bbox
            return bbox_intersects_polygon(fb, lits[0])
        if op in (LT, LT_EQ, GT, GT_EQ, EQ, IN, STARTS_WITH):
            # stats may predate a type promotion (spec:356): lift them
            # into the literal domain; incomparable leftovers keep the file
            lo = _stat_domain(mn, lits[0]) if mn is not None else None
            hi = _stat_domain(mx, lits[0]) if mx is not None else None
            if op == LT:
                return lo is None or not _cmp_ready(lo, lits[0]) or lo < lits[0]
            if op == LT_EQ:
                return lo is None or not _cmp_ready(lo, lits[0]) or lo <= lits[0]
            if op == GT:
                return hi is None or not _cmp_ready(hi, lits[0]) or hi > lits[0]
            if op == GT_EQ:
                return hi is None or not _cmp_ready(hi, lits[0]) or hi >= lits[0]
            if op == EQ:
                v = lits[0]
                if lo is not None and _cmp_ready(lo, v) and lo > v:
                    return False
                if hi is not None and _cmp_ready(hi, v) and hi < v:
                    return False
                return True
            if op == IN:
                return any(
                    inclusive_metrics_eval(
                        BoundPredicate(EQ, expr.term, (v,)), fs
                    )
                    for v in lits
                )
            if op == STARTS_WITH:
                v = lits[0]
                if mn is not None and str(mn)[: len(v)] > v:
                    return False
                if mx is not None and str(mx)[: len(v)] < v:
                    return False
                return True
        return True  # not_eq / not_in / not_starts_with can't prune inclusively
    raise TypeError(f"cannot evaluate {expr!r}")


def strict_metrics_eval(expr: Expr, fs: FileStats) -> bool:
    """True if *every* row in the file matches expr (enables metadata-only
    deletes). Reference StrictMetricsEvaluator.java:53."""
    if isinstance(expr, AlwaysTrue):
        return True
    if isinstance(expr, AlwaysFalse):
        return False
    if isinstance(expr, And):
        return strict_metrics_eval(expr.left, fs) and strict_metrics_eval(expr.right, fs)
    if isinstance(expr, Or):
        return strict_metrics_eval(expr.left, fs) or strict_metrics_eval(expr.right, fs)
    if isinstance(expr, Not):
        return strict_metrics_eval(rewrite_not(expr), fs)
    if isinstance(expr, BoundPredicate):
        if expr.term.transform is not None and not isinstance(expr.term.transform, Identity):
            # shredded variant paths carry REAL typed bounds under the
            # synthetic key: strict eval works like an identity column —
            # a missing path is a companion NULL, which fails the
            # no_nulls gate below, so "every row matches" stays sound
            if getattr(expr.term, "stats_name", None) is None:
                return False
            s = fs.get(expr.term.stats_name)
        else:
            s = fs.get(expr.term.name)
        if s is None:
            return False
        mn, mx, nulls, nans, vc = s
        if isinstance(mn, float) and mn != mn:  # legacy NaN bounds
            mn = None
        if isinstance(mx, float) and mx != mx:
            mx = None
        op, lits = expr.op, expr.literals
        no_nulls = nulls == 0
        all_null = vc is not None and nulls is not None and nulls == vc and vc > 0
        # StrictMetricsEvaluator NaN guards: a floating column whose nan
        # count is unknown or positive may hold NaN rows, and NaN matches
        # no comparison — so "every row matches" can never be asserted.
        floaty = (getattr(expr.term, "stats_type", None)
                  or getattr(expr.term.field, "type", None)) in (
                      "float", "double")
        may_nan = floaty and (nans is None or nans > 0)
        all_nan = nans is not None and vc is not None and nans == vc and vc > 0
        if op == IS_NULL:
            return all_null
        if op == NOT_NULL:
            return no_nulls
        if op == IS_NAN:
            return all_nan
        if op == NOT_NAN:
            # null rows don't match notNaN either (predicate on null -> null)
            return no_nulls and (not floaty or nans == 0)
        if mn is None or mx is None or nulls is None:
            return False
        if not no_nulls:
            return False  # null rows never match binary predicates
        if may_nan:
            return False
        if op in (ST_INTERSECTS, ST_DISJOINT):
            from .geo import BBox, bbox_intersects, stats_bbox

            fb = stats_bbox(mn, mx)
            if fb is None:
                return False
            qb: BBox = lits[0]
            geog = expr.term.field.type == "geography"
            if op == ST_DISJOINT:
                # every row disjoint <=> file bbox disjoint from the box
                return not bbox_intersects(fb, qb, geography=geog)
            # every row intersects if the file bbox is contained in the box:
            # each row bbox ⊆ file bbox ⊆ query box -> intersects
            y_in = qb.ymin <= fb.ymin and fb.ymax <= qb.ymax
            if not y_in:
                return False
            if fb.xmin > fb.xmax:  # file box wraps the antimeridian
                if qb.xmin > qb.xmax:
                    return fb.xmin >= qb.xmin and fb.xmax <= qb.xmax
                return qb.xmin <= -180.0 and qb.xmax >= 180.0
            if geog and qb.xmin > qb.xmax:  # query box wraps
                return fb.xmin >= qb.xmin or fb.xmax <= qb.xmax
            return qb.xmin <= fb.xmin and fb.xmax <= qb.xmax
        # stats may predate a type promotion: lift into the literal domain;
        # strict answers must be provable, so incomparable values say False
        lo, hi = _stat_domain(mn, lits[0]), _stat_domain(mx, lits[0])
        if not (_cmp_ready(lo, lits[0]) and _cmp_ready(hi, lits[0])):
            return False
        if op == LT:
            return hi < lits[0]
        if op == LT_EQ:
            return hi <= lits[0]
        if op == GT:
            return lo > lits[0]
        if op == GT_EQ:
            return lo >= lits[0]
        if op == EQ:
            return lo == hi == lits[0]
        if op == NOT_EQ:
            return lits[0] < lo or lits[0] > hi
        if op == IN:
            return lo == hi and lo in lits
        if op == NOT_IN:
            return all(v < lo or v > hi for v in lits)
        if op == STARTS_WITH:
            v = lits[0]
            return str(mn).startswith(v) and str(mx)[: len(v)] == v
        return False
    raise TypeError(f"cannot evaluate {expr!r}")


# ExpressionUtil ------------------------------------------------------------
# Reference api/src/main/java/org/apache/iceberg/expressions/ExpressionUtil.java:
# sanitize/toSanitizedString (log-safe filters), equivalent, selectsPartitions,
# extractByIdInclusive. Same semantics, Python-idiomatic shapes.


def _sanitize_value(v: Any) -> str:
    """Replace a literal with a description: numbers keep magnitude + type,
    string-likes become stable short hashes, temporal values become their
    type name — filters stay debuggable without leaking data values."""
    import zlib

    if v is None:
        return "(null)"
    if isinstance(v, bool):
        return "(boolean)"
    if isinstance(v, int):
        return f"({len(str(abs(v)))}-digit-int)"
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return "(non-finite-float)"  # int(inf/nan) would raise
        return f"({len(str(abs(int(v))))}-digit-float)"
    if isinstance(v, _dt.datetime):
        return "(timestamp)"
    if isinstance(v, _dt.date):
        return "(date)"
    if isinstance(v, (bytes, bytearray)):
        return f"(hash-{zlib.crc32(bytes(v)) & 0xffffffff:08x})"
    if isinstance(v, str):
        return f"(hash-{zlib.crc32(v.encode()) & 0xffffffff:08x})"
    return f"({type(v).__name__})"


def sanitize(expr: Expr) -> Expr:
    """Same structure, literal values replaced by descriptions."""
    if isinstance(expr, (AlwaysTrue, AlwaysFalse)):
        return expr
    if isinstance(expr, And):
        return And(sanitize(expr.left), sanitize(expr.right))
    if isinstance(expr, Or):
        return Or(sanitize(expr.left), sanitize(expr.right))
    if isinstance(expr, Not):
        return Not(sanitize(expr.child))
    if isinstance(expr, BoundPredicate):
        return BoundPredicate(expr.op, expr.term,
                              tuple(_sanitize_value(v) for v in expr.literals))
    if isinstance(expr, Predicate):
        return Predicate(expr.op, expr.term,
                         tuple(_sanitize_value(v) for v in expr.literals))
    raise TypeError(f"cannot sanitize {expr!r}")


def to_sanitized_string(expr: Expr) -> str:
    return repr(sanitize(expr))


def _normal_form(e: Expr):
    """Hashable normal form: AND/OR flattened to sorted frozensets so
    conjunction/disjunction order never affects equivalence."""
    if isinstance(e, AlwaysTrue):
        return ("true",)
    if isinstance(e, AlwaysFalse):
        return ("false",)
    if isinstance(e, And):
        parts = set()
        for side in (e.left, e.right):
            nf = _normal_form(side)
            parts.update(nf[1] if nf[0] == "and" else {nf})
        return ("and", frozenset(parts))
    if isinstance(e, Or):
        parts = set()
        for side in (e.left, e.right):
            nf = _normal_form(side)
            parts.update(nf[1] if nf[0] == "or" else {nf})
        return ("or", frozenset(parts))
    if isinstance(e, Not):
        return ("not", _normal_form(e.child))
    if isinstance(e, (Predicate, BoundPredicate)):
        op, lits = e.op, e.literals
        # discrete domains: x < 9 == x <= 8, x > 9 == x >= 10 — normalize
        # to the inclusive form so boundary-equal projections compare
        # equal. Int literals are only rewritten when the domain is
        # provably discrete — a bound int/long column or a transform term
        # (bucket/truncate-int/time granularities emit discrete values);
        # an int literal on an UNBOUND identity term could sit on a double
        # column (x < 5 vs x <= 4 differ at x=4.5). Date literals stay
        # discrete unconditionally: bind() coerces date literals on
        # timestamp columns to datetime, so a surviving raw date implies a
        # date-domain comparison (incl. day/month/year projections).
        ftype = getattr(getattr(e.term, "field", None), "type", None) \
            if isinstance(e, BoundPredicate) else None
        tr = getattr(e.term, "transform", None)
        transformed = tr is not None and not isinstance(tr, Identity)
        if op in (LT, GT) and len(lits) == 1:
            v = lits[0]
            if isinstance(v, bool):
                pass
            elif isinstance(v, int) and (transformed or ftype in ("int", "long")):
                op, lits = ((LT_EQ, (v - 1,)) if op == LT else (GT_EQ, (v + 1,)))
            elif isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
                day = _dt.timedelta(days=1)
                op, lits = ((LT_EQ, (v - day,)) if op == LT
                            else (GT_EQ, (v + day,)))
        key = (frozenset(lits) if op in (IN, NOT_IN) else tuple(lits))
        return ("pred", op, e.term.name, repr(e.term.transform), key)
    raise TypeError(f"cannot normalize {e!r}")


def equivalent(left: Expr, right: Expr, schema=None) -> bool:
    """Whether two expressions accept the same inputs (sufficient, not
    necessary — False does not prove inequivalence). Binds both sides when
    a schema is given, pushes NOT to the leaves, then compares an
    order-insensitive normal form."""
    left, right = rewrite_not(left), rewrite_not(right)
    if schema is not None:
        left, right = bind(left, schema), bind(right, schema)
    return _normal_form(left) == _normal_form(right)


def selects_partitions(expr: Expr, spec, schema) -> bool:
    """Whether expr selects whole partitions under spec: the inclusive and
    strict projections agree (ts < X selects whole partitions in [hours(ts)]
    but not [days(ts)] unless X is a day boundary)."""
    if not spec.fields:
        return False
    bound = bind(rewrite_not(expr), schema)
    return equivalent(project(bound, spec, inclusive=True),
                      project(bound, spec, inclusive=False))


def extract_by_id_inclusive(expr: Expr, schema, ids) -> Expr:
    """Retain only predicates over the given field ids; every other
    predicate inclusively widens to TRUE (the result accepts at least
    everything expr accepts). NOT is pushed down first so widening is
    always sound."""
    ids = set(ids)
    if not ids:
        return ALWAYS_TRUE

    def walk(e: Expr) -> Expr:
        if isinstance(e, (AlwaysTrue, AlwaysFalse)):
            return e
        if isinstance(e, And):
            return and_(walk(e.left), walk(e.right))
        if isinstance(e, Or):
            return or_(walk(e.left), walk(e.right))
        if isinstance(e, BoundPredicate):
            return e if e.term.field.field_id in ids else ALWAYS_TRUE
        raise TypeError(f"cannot extract from {e!r}")

    return walk(bind(rewrite_not(expr), schema))
