"""QueryAST → DataFrame pipeline builder.

Implements the reference's clause pipeline (SURVEY §3, entry point 2 —
src/warpdb.cpp:297-498) as one Catalyst logical plan:

    join* → filter(WHERE) → groupBy().agg() → filter(HAVING) →
    project(SELECT) → distinct → orderBy → offset → limit

with the reference's quirks generalized: multi-key GROUP BY and
multi-item SELECT (grammar allowed both, execution used only the first —
src/expression.cpp:339-361,417-443 vs src/warpdb.cpp:350-362), HAVING
over aggregates not present in SELECT (tests/having_distinct_test.cpp:7),
OFFSET applied before LIMIT (src/warpdb.cpp:485-495), and executed joins
(the reference only parses them — include/warpdb.hpp:22).
"""

from __future__ import annotations

import functools
import weakref

from pyspark.sql import Column, DataFrame

from pyspark.sql import functions as F

from warpdb_spark.errors import ValidationError
from warpdb_spark.plans import ast as A
from warpdb_spark.plans.compiler import Compiler, order_col, validate


def _collect_aggs(node: A.Node | None) -> list[A.Agg]:
    """Aggregate nodes NOT nested inside a window function."""
    if node is None:
        return []
    out: list[A.Agg] = []

    def rec(n: A.Node):
        if isinstance(n, A.WindowFunc):
            return
        if isinstance(n, A.Agg):
            out.append(n)
        for c in n.children():
            rec(c)

    rec(node)
    return out


def _check_grouped(node: A.Node, env_texts: set[str], clause: str) -> None:
    """In grouped mode every column reference must be covered by a group
    key expression or sit inside an aggregate (ANSI rule; the reference
    never checks because it only evaluates one aggregate)."""

    def rec(n: A.Node):
        if n.text() in env_texts or isinstance(n, (A.Agg, A.WindowFunc)):
            return
        if isinstance(n, A.Var):
            raise ValidationError(
                f"Column {n.name} in {clause} clause must appear in GROUP BY or an aggregate"
            )
        for c in n.children():
            rec(c)

    rec(node)


def _apply_pivot(base: DataFrame, pv: "A.PivotClause", registry) -> DataFrame:
    """``FROM t PIVOT (agg FOR col IN (...))`` → groupBy(implicit
    keys).pivot(col, values).agg(agg) — Spark SQL semantics: the
    implicit grouping keys are every column not consumed by the
    aggregate or the pivot column, and passing the value list
    explicitly keeps the plan ONE pass (Spark's pivot without values
    runs an extra distinct job to discover them — the 100 TB reason
    the IN list is mandatory here, as it is in Spark SQL)."""
    if pv.pivot_col not in base.columns:
        raise ValidationError(f"Unknown column: {pv.pivot_col} in PIVOT clause")
    validate(pv.agg, {"": set(base.columns)}, "PIVOT")
    if not _collect_aggs(pv.agg):
        raise ValidationError("PIVOT requires an aggregate expression before FOR")
    agg_refs = {
        n.name.split(".")[-1] for n in pv.agg.walk() if isinstance(n, A.Var)
    }
    keys = [c for c in base.columns if c != pv.pivot_col and c not in agg_refs]
    if not keys:
        raise ValidationError(
            "PIVOT leaves no implicit grouping columns in the FROM frame"
        )
    vals: list = []
    renames: list[tuple[str, str | None]] = []
    out_names: set[str] = set(keys)
    for node, alias in pv.values:
        if isinstance(node, A.Num):
            v = node.value
        elif isinstance(node, A.Str):
            v = node.value
        else:
            raise ValidationError(
                "PIVOT IN list must contain literal values"
            )
        if v in vals:
            raise ValidationError(f"Duplicate value {v!r} in PIVOT IN list")
        vals.append(v)
        out = alias if alias is not None else str(v)
        # a value column colliding with a key (or another value) would
        # yield a duplicate-named frame that fails later with an
        # untyped AMBIGUOUS_REFERENCE — fail typed, here
        if out in out_names:
            raise ValidationError(
                f"PIVOT output column {out} collides with another output column"
            )
        out_names.add(out)
        renames.append((str(v), alias))
    agg_col = Compiler(registry).compile(pv.agg)
    out = base.groupBy(*[F.col(k) for k in keys]).pivot(pv.pivot_col, vals).agg(agg_col)
    for cur, alias in renames:
        if alias:
            out = out.withColumnRenamed(cur, alias)
    return out


def _apply_unpivot(base: DataFrame, up: "A.UnpivotClause") -> DataFrame:
    """``FROM t UNPIVOT (val FOR name IN (...))`` → DataFrame.unpivot
    (a NARROW row-local expansion — zero shuffle; the 100 TB cost is
    the scan). NULL values are excluded by default (ANSI/Spark SQL
    UNPIVOT semantics — DataFrame.unpivot keeps them, hence the
    filter); ``INCLUDE NULLS`` keeps them. ``AS label`` renames the
    name-column VALUE for that source column. The multi-measure form
    routes to _apply_unpivot_multi (explode of a struct array — the
    same row-local shape)."""
    if isinstance(up.value_col, list):
        return _apply_unpivot_multi(base, up)
    if any(isinstance(c, list) for c, _ in up.cols):
        raise ValidationError(
            "UNPIVOT IN list has a column tuple but the value side is a "
            "single column — use ((v1, ...) FOR ...) for multi-measure"
        )
    names = [c for c, _ in up.cols]
    for c in names:
        if c not in base.columns:
            raise ValidationError(f"Unknown column: {c} in UNPIVOT clause")
    if len(set(names)) != len(names):
        raise ValidationError("Duplicate column in UNPIVOT IN list")
    ids = [c for c in base.columns if c not in set(names)]
    if up.name_col == up.value_col:
        raise ValidationError(
            "UNPIVOT name and value columns must differ "
            f"(both are {up.name_col})"
        )
    used = set(base.columns)
    if up.name_col in used or up.value_col in used:
        clash = up.name_col if up.name_col in used else up.value_col
        raise ValidationError(
            f"UNPIVOT output column {clash} collides with an input column"
        )
    try:
        out = base.unpivot(ids, names, up.name_col, up.value_col)
    except Exception as e:  # Spark raises eagerly on incompatible types
        raise ValidationError(
            f"UNPIVOT value columns have no common type: {e}"
        ) from None
    relabel = {c: lab for c, lab in up.cols if lab is not None}
    if relabel:
        expr = F.col(up.name_col)
        for c, lab in relabel.items():
            expr = F.when(F.col(up.name_col) == c, F.lit(lab)).otherwise(expr)
        out = out.withColumn(up.name_col, expr)
    if not up.include_nulls:
        out = out.filter(F.col(up.value_col).isNotNull())
    return out


def _apply_unpivot_multi(base: DataFrame, up: "A.UnpivotClause") -> DataFrame:
    """Multi-measure UNPIVOT: ``((v1, v2) FOR name IN ((c1, c2) AS
    label, ...))`` — each IN tuple becomes one output row carrying
    len(value_cols) measures. Spelled as explode(array(struct(label,
    c1, c2), ...)): still a row-local narrow expansion, zero shuffle;
    Spark coerces the struct fields per measure position to their
    least common type (the ANSI rule), and an impossible coercion
    surfaces as a ValidationError. Default label for an unaliased
    tuple is the column names joined by ``_`` (the Spark SQL rule).
    A row is excluded only when ALL its measures are NULL (ANSI);
    ``INCLUDE NULLS`` keeps every row."""
    value_cols = list(up.value_col)
    if len(set(value_cols)) != len(value_cols):
        raise ValidationError("Duplicate value column name in UNPIVOT")
    groups: list[tuple[list[str], str | None]] = []
    for c, lab in up.cols:
        cs = c if isinstance(c, list) else [c]
        if len(cs) != len(value_cols):
            raise ValidationError(
                f"UNPIVOT IN tuple ({', '.join(cs)}) has {len(cs)} "
                f"column(s) but {len(value_cols)} value columns were "
                "declared"
            )
        groups.append((cs, lab))
    flat = [c for cs, _ in groups for c in cs]
    for c in flat:
        if c not in base.columns:
            raise ValidationError(f"Unknown column: {c} in UNPIVOT clause")
    if len(set(flat)) != len(flat):
        raise ValidationError("Duplicate column in UNPIVOT IN list")
    ids = [c for c in base.columns if c not in set(flat)]
    out_cols = [up.name_col, *value_cols]
    if len(set(out_cols)) != len(out_cols):
        raise ValidationError(
            "UNPIVOT name and value columns must differ "
            f"(clashing name: {up.name_col})"
        )
    # Collisions are checked against the SURVIVING id columns only:
    # the melted source columns are consumed by the unpivot and absent
    # from the output, so reusing one of their names for a name/value
    # output column is legal (ANSI / Spark SQL UNPIVOT semantics).
    for c in out_cols:
        if c in ids:
            raise ValidationError(
                f"UNPIVOT output column {c} collides with an input column"
            )
    # Per-position type check, enforced HERE because array() would
    # silently coerce e.g. double+string to string — Spark SQL's own
    # UNPIVOT rejects that (UNPIVOT_VALUE_DATA_TYPE_MISMATCH): a
    # position's columns must share a type or all be numeric.
    from pyspark.sql.types import NumericType

    dtypes = {f.name: f.dataType for f in base.schema.fields}
    for j, v in enumerate(value_cols):
        ts = {dtypes[cs[j]] for cs, _ in groups}
        if len(ts) > 1 and not all(isinstance(t, NumericType) for t in ts):
            raise ValidationError(
                f"UNPIVOT value columns have no common type at position "
                f"{j + 1} ({v}): "
                + ", ".join(sorted(t.simpleString() for t in ts))
            )
    structs = [
        F.struct(
            F.lit(lab if lab is not None else "_".join(cs)).alias(up.name_col),
            *[F.col(c).alias(v) for c, v in zip(cs, value_cols)],
        )
        for cs, lab in groups
    ]
    try:
        out = base.select(
            *ids, F.explode(F.array(*structs)).alias("__unpivot")
        ).select(*ids, *[F.col(f"__unpivot.{c}").alias(c) for c in out_cols])
    except Exception as e:  # Spark raises eagerly on incompatible types
        raise ValidationError(
            f"UNPIVOT value columns have no common type: {e}"
        ) from None
    if not up.include_nulls:
        keep = F.lit(False)
        for v in value_cols:
            keep = keep | F.col(v).isNotNull()
        out = out.filter(keep)
    return out


def _unique_name(base: str, used: set[str]) -> str:
    name, i = base, 1
    while name in used:
        i += 1
        name = f"{base}_{i}"
    used.add(name)
    return name


def _references_table(node, name: str) -> bool:
    """Does the query tree read from table ``name``? (FROM, JOINs,
    derived tables, set-op branches, nested CTE bodies — a nested CTE
    that REBINDS the name shadows it for its own body.)"""
    if isinstance(node, A.WithQuery):
        for _n, sub in node.ctes:
            if _references_table(sub, name):
                return True
        shadowed = any(n == name for n, _s in node.ctes)
        return False if shadowed else _references_table(node.body, name)
    if isinstance(node, A.SetOp):
        return _references_table(node.left, name) or _references_table(node.right, name)
    if isinstance(node, A.TableFuncCall):
        # FROM udtf(table.col, ...) reads `table`
        return any(
            isinstance(a, A.Var) and "." in a.name and a.name.rsplit(".", 1)[0] == name
            for a in node.args
        )
    if isinstance(node, A.QueryAST):
        if node.from_subquery is not None:
            if _references_table(node.from_subquery, name):
                return True
        elif node.from_table == name:
            return True
        for j in node.joins:
            if j.subquery is not None:
                if _references_table(j.subquery, name):
                    return True
            elif j.table == name:
                return True
        return False
    return False


_RECURSIVE_MAX_ITER = 100


def _build_recursive_cte(
    tables: dict[str, DataFrame], name: str, node, registry
) -> DataFrame:
    """Bounded-fixpoint evaluation of ``WITH RECURSIVE name AS (base
    UNION [ALL] step)``: Spark has no recursive plan node, so the step
    re-evaluates against the previous frontier until it yields no new
    rows (UNION: set semantics — only rows not seen before continue;
    UNION ALL: bag semantics — stops when the step is empty).

    Iterative-Spark hygiene as in operators/graph.py: each round's
    frontier is localCheckpoint'ed so the logical plan doesn't double
    per iteration; the convergence probe ships one scalar. Depth is
    capped at 100 rounds — a recursion that deep on a 100 TB input is
    an algorithmic bug, not a workload."""
    if not (isinstance(node, A.SetOp) and node.op in ("union", "union_all")):
        raise ValidationError(
            f"RECURSIVE CTE {name} must be 'base UNION [ALL] step'"
        )
    if _references_table(node.left, name):
        raise ValidationError(
            f"RECURSIVE CTE {name}: the base (left) branch must not reference {name}"
        )
    distinct = node.op == "union"
    acc = build_dataframe(tables, node.left, registry)
    if distinct:
        acc = acc.distinct()
    acc = acc.localCheckpoint()
    frontier = acc
    for _ in range(_RECURSIVE_MAX_ITER):
        scoped = dict(tables)
        scoped[name] = frontier
        step = build_dataframe(tables=scoped, q=node.right, registry=registry)
        if distinct:
            step = step.distinct().subtract(acc)
        step = step.localCheckpoint()
        if step.isEmpty():
            return acc
        acc = acc.union(step).localCheckpoint()
        frontier = step
    raise ValidationError(
        f"RECURSIVE CTE {name} did not converge within {_RECURSIVE_MAX_ITER} iterations"
    )


def _build_values(
    vt: "A.ValuesTable", registry, tables: dict[str, DataFrame]
) -> DataFrame:
    """Inline literal table → N one-row projections unioned (set-op
    type coercion widens int→double etc. across rows, exactly as a
    UNION ALL of SELECTs would). VALUES tables are small by nature —
    the plan is a LocalRelation after constant folding. The session
    comes from an attached table when one exists — getActiveSession
    is thread-local and returns None off the creating thread."""
    spark = None
    for df in tables.values():
        spark = df.sparkSession
        break
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    if spark is None:
        raise ValidationError(
            "VALUES table needs an active SparkSession or an attached table"
        )
    ncols = len(vt.rows[0])
    names = vt.col_names or [f"col{i + 1}" for i in range(ncols)]
    if len(names) != ncols:
        raise ValidationError(
            f"VALUES alias names {len(names)} columns, rows have {ncols}"
        )
    if len(set(names)) != len(names):
        raise ValidationError("Duplicate column name in VALUES alias")
    comp = Compiler(registry)
    frames = []
    for r in vt.rows:
        if len(r) != ncols:
            raise ValidationError(
                f"VALUES rows differ in arity: {len(r)} vs {ncols}"
            )
        for cell in r:
            validate(cell, {"": set()}, "VALUES")
        frames.append(
            # numPartitions=1: a literal row must not fan out into
            # default-parallelism empty splits (32 tasks per row)
            spark.range(0, 1, 1, 1).select(
                *[comp.compile(c).alias(n) for c, n in zip(r, names)]
            )
        )
    out = frames[0]
    for f in frames[1:]:
        try:
            out = out.unionByName(f)
        except Exception as e:
            raise ValidationError(
                f"VALUES rows have incompatible column types: {e}"
            ) from None
    return out


def build_dataframe(tables: dict[str, DataFrame], q, registry=None) -> DataFrame:
    if isinstance(q, A.ValuesTable):
        return _build_values(q, registry, tables)
    if isinstance(q, A.WithQuery):
        tables = dict(tables)  # CTEs shadow base tables, scoped to this query
        for name, sub in q.ctes:
            if q.recursive and _references_table(sub, name):
                tables[name] = _build_recursive_cte(tables, name, sub, registry)
            else:
                tables[name] = build_dataframe(tables, sub, registry)
        return build_dataframe(tables, q.body, registry)
    if isinstance(q, A.SetOp):
        left = build_dataframe(tables, q.left, registry)
        right = build_dataframe(tables, q.right, registry)
        if q.op == "union_all":
            out = left.union(right)
        elif q.op == "union":
            out = left.union(right).distinct()
        elif q.op == "intersect":
            out = left.intersect(right)
        elif q.op == "intersect_all":
            out = left.intersectAll(right)
        elif q.op == "except":
            out = left.subtract(right)
        elif q.op == "except_all":
            out = left.exceptAll(right)
        else:
            raise ValidationError(f"Unknown set operation: {q.op}")
        sort_cols = []
        key_cols = []
        if q.order_by:
            # tail clauses sort the COMBINED result by its output columns
            for e, _ in q.order_by:
                validate(e, set(out.columns), "ORDER BY")
            comp = Compiler(registry)
            key_cols = [comp.compile(e) for e, _ in q.order_by]
            sort_cols = [order_col(c, asc) for c, (_, asc) in zip(key_cols, q.order_by)]
        if q.limit_with_ties and q.limit is not None:
            if not q.order_by:
                raise ValidationError("LIMIT ... WITH TIES requires ORDER BY")
            dirs = [asc for _, asc in q.order_by]
            out = _apply_with_ties(out, key_cols, dirs, q.limit, q.offset)
            out = out.orderBy(*sort_cols)
        else:
            if sort_cols:
                out = out.orderBy(*sort_cols)
            if q.offset is not None:
                out = out.offset(q.offset)
            if q.limit is not None:
                out = out.limit(q.limit)
        return out
    if isinstance(q, A.TableFuncCall):
        return _build_table_func(tables, q, registry)
    return _build_select(tables, q, registry)


# session -> {registered name: (wrapped class, deterministic, evalType)}
_UDTF_REGISTERED = weakref.WeakKeyDictionary()


def _register_udtf_once(spark, reg_name: str, fn) -> None:
    """``spark.udtf.register`` only when ``reg_name`` is new to the
    session or now names a different UDTF. Each registration costs a
    JVM round trip and logs a "replaced a previously registered
    function" warning. The key is the wrapped class, not ``fn``:
    ``default_udtfs()`` builds a new ``asDeterministic()`` wrapper for
    every WarpDB."""
    key = (fn.func, fn.deterministic, fn.evalType)
    seen = _UDTF_REGISTERED.setdefault(spark, {})
    if seen.get(reg_name) != key:
        spark.udtf.register(reg_name, fn)
        seen[reg_name] = key


def _build_table_func(tables: dict[str, DataFrame], tfc: A.TableFuncCall, registry) -> DataFrame:
    """Execute ``FROM udtf(table.col, lit...)`` as a Spark lateral join:
    the registered Python UDTF is applied once per source row, and the
    result exposes the source table's columns followed by the UDTF's
    output columns. Planned by Catalyst as Generate over the (filter-
    pushed) source scan — the UDTF is Arrow-batched per partition, no
    driver involvement, so it distributes like any other projection
    (Python-rate; pre-filter the source for hot paths)."""
    name = tfc.name
    if registry is None or not registry.has_udtf(name):
        known = ", ".join(registry.udtf_names()) if registry is not None else ""
        raise ValidationError(
            f"Unknown table function: {name}" + (f" (registered: {known})" if known else "")
        )
    if not tfc.args:
        raise ValidationError(f"Table function {name} requires a table.column first argument")
    first = tfc.args[0]
    if not (isinstance(first, A.Var) and "." in first.name):
        raise ValidationError(
            f"Table function {name}: first argument must be a qualified "
            "table.column reference naming the lateral source table"
        )
    table, col = first.name.rsplit(".", 1)
    if table not in tables:
        raise ValidationError(f"Unknown table: {table} in table function {name}")
    src = tables[table]
    if col not in src.columns:
        raise ValidationError(f"Unknown column: {first.name} in table function {name}")
    lit_sql: list[str] = []
    for a in tfc.args[1:]:
        if isinstance(a, A.Num):
            lit_sql.append(repr(a.value))
        elif isinstance(a, A.Str):
            lit_sql.append("'" + a.value.replace("'", "''") + "'")
        elif isinstance(a, A.Bool):
            lit_sql.append("true" if a.value else "false")
        elif isinstance(a, A.Null):
            lit_sql.append("NULL")
        else:
            raise ValidationError(
                f"Table function {name}: arguments after the column must be literals"
            )
    spark = src.sparkSession
    reg_name = f"__wdb_udtf_{name}"
    _register_udtf_once(spark, reg_name, registry.udtf(name))
    view = _sq_alias("tfsrc")
    src.createOrReplaceTempView(view)
    # backtick-quote the column so names needing quoting (mixed case
    # under case-sensitive resolution, special characters) stay a
    # column reference instead of escaping into raw SQL
    quoted_col = "`" + col.replace("`", "``") + "`"
    args = ", ".join([f"s.{quoted_col}"] + lit_sql)
    try:
        out = spark.sql(
            f"SELECT s.*, f.* FROM {view} AS s, LATERAL {reg_name}({args}) AS f"
        )
    finally:
        # spark.sql analyzes eagerly — the resolved plan no longer
        # references the view name, so dropping it immediately keeps the
        # catalog from growing one view per query on long-lived sessions
        spark.catalog.dropTempView(view)
    # Generate output columns shadowing source columns would make the
    # downstream scope ambiguous — reject loudly
    gen_cols = out.columns[len(src.columns):]
    overlap = set(src.columns) & set(gen_cols)
    if overlap:
        raise ValidationError(
            f"Table function {name} output columns collide with source columns: {sorted(overlap)}"
        )
    return out


def _conjuncts(node: A.Node) -> list[A.Node]:
    if isinstance(node, A.BinOp) and node.op == "AND":
        return _conjuncts(node.left) + _conjuncts(node.right)
    return [node]


def _contains_subquery(node: A.Node) -> bool:
    return any(isinstance(s, A._SubqueryNode) for s in node.walk())


_SQ_SEQ = [0]


def _sq_alias(base: str) -> str:
    _SQ_SEQ[0] += 1
    return f"__{base}{_SQ_SEQ[0]}"


def _subquery_inner_columns(tables, q) -> dict[str, set[str]]:
    """table → columns visible inside a subquery's own FROM/JOINs.
    Empty when the subquery uses derived tables (those are treated as
    uncorrelated — correlation into a derived table is not supported)."""
    if not isinstance(q, A.QueryAST) or q.from_subquery is not None:
        return {}
    if any(j.subquery is not None for j in q.joins):
        return {}
    scope = {
        (q.from_alias or q.from_table): set(
            _resolve_table(tables, q.from_table).columns
        )
    }
    for j in q.joins:
        scope[j.alias or j.table] = set(_resolve_table(tables, j.table).columns)
    return scope


def _var_side(name: str, inner: dict[str, set[str]], outer: dict[str, set[str]]) -> str:
    """Resolve a (possibly qualified) name: innermost scope wins (ANSI)."""

    def in_scope(scope: dict[str, set[str]]) -> bool:
        if "." in name:
            t, c = name.rsplit(".", 1)
            if t in scope:
                return c in scope[t]
        return any(name in cols for cols in scope.values())

    if in_scope(inner):
        return "inner"
    if in_scope(outer):
        return "outer"
    return "unknown"


_CMP = {"==", "=", "!=", ">", "<", ">=", "<="}


def _split_correlation(q_sub: A.QueryAST, inner_scope, outer_scope):
    """Partition the subquery's WHERE conjuncts into correlation
    predicates (Var-vs-Var comparisons across scopes) and residual
    inner-only conjuncts. Returns (corr, residual_where)."""
    corr: list[tuple[str, A.Var, A.Var, bool]] = []  # (op, inner, outer, inner_is_left)
    residual: list[A.Node] = []
    for c in _conjuncts(q_sub.where) if q_sub.where is not None else []:
        if (
            isinstance(c, A.BinOp)
            and c.op in _CMP
            and isinstance(c.left, A.Var)
            and isinstance(c.right, A.Var)
        ):
            ls = _var_side(c.left.name, inner_scope, outer_scope)
            rs = _var_side(c.right.name, inner_scope, outer_scope)
            if {ls, rs} == {"inner", "outer"}:
                if ls == "inner":
                    corr.append((c.op, c.left, c.right, True))
                else:
                    corr.append((c.op, c.right, c.left, False))
                continue
        if _contains_subquery(c):
            raise ValidationError("Nested subqueries inside a subquery's WHERE are not supported")
        residual.append(c)
    where = None
    for c in residual:
        where = c if where is None else A.BinOp("AND", where, c)
    return corr, where


def _apply_cmp(op: str, left, right):
    if op in ("=", "=="):
        return left == right
    if op == "!=":
        return left != right
    if op == ">":
        return left > right
    if op == "<":
        return left < right
    if op == ">=":
        return left >= right
    return left <= right


def _build_semi_anti(df, tables, scope, sub, anti: bool, registry):
    """EXISTS / NOT EXISTS → left-semi / left-anti join. Correlated
    comparisons in the subquery's WHERE become the join condition; an
    uncorrelated EXISTS degenerates to a broadcast non-emptiness probe."""
    import dataclasses

    how = "left_anti" if anti else "left_semi"
    inner_scope = _subquery_inner_columns(tables, sub)
    corr = []
    if isinstance(sub, A.QueryAST):
        corr, residual_where = _split_correlation(sub, inner_scope, scope)
    if not corr:
        sub_df = build_dataframe(tables, sub, registry).limit(1)
        probe = sub_df.select(F.lit(1).alias(_sq_alias("e")))
        return df.join(F.broadcast(probe), F.lit(True), how)
    if sub.group_by or sub.having is not None:
        raise ValidationError(
            "Correlated EXISTS subqueries cannot use GROUP BY/HAVING"
        )
    aliases = [_sq_alias("sqc") for _ in corr]
    items = [(A.Var(v.name), a) for (_, v, _, _), a in zip(corr, aliases)]
    q2 = dataclasses.replace(
        sub,
        select_items=items,
        where=residual_where,
        order_by=[],
        limit=None,
        offset=None,
        distinct=False,
    )
    sub_df = build_dataframe(tables, q2, registry)
    cond = None
    for (op, _inner, outer, inner_is_left), a in zip(corr, aliases):
        validate(outer, scope, "EXISTS correlation")
        ic, oc = F.col(a), F.col(outer.name)
        c = _apply_cmp(op, ic, oc) if inner_is_left else _apply_cmp(op, oc, ic)
        cond = c if cond is None else cond & c
    return df.join(sub_df, cond, how)


def _build_in_subquery(df, tables, scope, node: A.InSubquery, registry):
    """expr [NOT] IN (SELECT ...) → left-semi / left-anti join.
    Correlated comparisons in the subquery's WHERE join like EXISTS.
    NOT IN keeps ANSI null semantics — per correlation group: a NULL
    probe value or any NULL in that group's subquery result removes
    the row."""
    import dataclasses

    validate(node.operand, scope, "IN subquery operand")
    sub = node.query
    corr = []
    if isinstance(sub, A.QueryAST):
        corr, residual_where = _split_correlation(
            sub, _subquery_inner_columns(tables, sub), scope
        )
    if corr:
        if sub.group_by or sub.having is not None:
            raise ValidationError(
                "Correlated IN subqueries cannot use GROUP BY/HAVING"
            )
        if len(sub.select_items) != 1:
            raise ValidationError("IN subquery must select exactly one column")
        corr_aliases = [_sq_alias("sqc") for _ in corr]
        val_alias = _sq_alias("sqin")
        items = [(sub.select_items[0][0], val_alias)]
        items += [(A.Var(v.name), a) for (_, v, _, _), a in zip(corr, corr_aliases)]
        q2 = dataclasses.replace(
            sub,
            select_items=items,
            where=residual_where,
            order_by=[],
            limit=None,
            offset=None,
            distinct=False,
        )
        sub_df = build_dataframe(tables, q2, registry)
    else:
        sub_df = build_dataframe(tables, sub, registry)
        if len(sub_df.columns) != 1:
            raise ValidationError("IN subquery must select exactly one column")
        val_alias = _sq_alias("sqin")
        sub_df = sub_df.select(F.col(sub_df.columns[0]).alias(val_alias))
        corr_aliases = []

    operand = Compiler(registry).compile(node.operand)
    corr_cond = None
    for (op, _inner, outer, inner_is_left), a in zip(corr, corr_aliases):
        validate(outer, scope, "IN subquery correlation")
        ic, oc = F.col(a), F.col(outer.name)
        c = _apply_cmp(op, ic, oc) if inner_is_left else _apply_cmp(op, oc, ic)
        corr_cond = c if corr_cond is None else corr_cond & c
    if node.negated:
        match = operand.eqNullSafe(F.col(val_alias)) | operand.isNull() | F.col(val_alias).isNull()
        cond = match if corr_cond is None else corr_cond & match
        return df.join(sub_df, cond, "left_anti")
    cond = operand == F.col(val_alias)
    if corr_cond is not None:
        cond = cond & corr_cond
    return df.join(sub_df, cond, "left_semi")


def _bind_scalar_subqueries(df, tables, node: A.Node, env, registry):
    """Attach every scalar subquery under ``node`` as a one-row
    broadcast cross-join column and record it in ``env`` so the
    compiler substitutes the column reference."""
    for s in node.walk():
        if isinstance(s, A.ScalarSubquery):
            q = s.query
            single_row = (
                isinstance(q, A.QueryAST)
                and not q.group_by
                and q.select_items
                and all(_collect_aggs(i) for i, _ in q.select_items)
            ) or (getattr(q, "limit", None) == 1)
            if not single_row:
                raise ValidationError(
                    "Scalar subquery must be a global aggregate or have LIMIT 1"
                )
            sub_df = build_dataframe(tables, q, registry)
            if len(sub_df.columns) != 1:
                raise ValidationError("Scalar subquery must select exactly one column")
            alias = _sq_alias("sq")
            sub_df = sub_df.select(F.col(sub_df.columns[0]).alias(alias))
            # Left join, not crossJoin: a LIMIT 1 subquery over zero rows
            # must evaluate to NULL (ANSI), not annihilate the outer side.
            df = df.join(F.broadcast(sub_df), F.lit(True), "left")
            env[s.text()] = F.col(alias)
        elif isinstance(s, (A.InSubquery, A.Exists)) and s is not node:
            continue
    return df


def _apply_where(df, where: A.Node, tables, scope, registry):
    """WHERE with subquery support. EXISTS / IN-subquery predicates must
    be top-level AND conjuncts (they rewrite to joins); scalar
    subqueries may appear anywhere in the remaining predicate."""
    residual: list[A.Node] = []
    for c in _conjuncts(where):
        neg = False
        inner = c
        while isinstance(inner, A.Not):
            neg = not neg
            inner = inner.operand
        if isinstance(inner, A.Exists):
            df = _build_semi_anti(df, tables, scope, inner.query, neg, registry)
        elif isinstance(inner, A.InSubquery):
            df = _build_in_subquery(
                df,
                tables,
                scope,
                A.InSubquery(inner.operand, inner.query, inner.negated ^ neg),
                registry,
            )
        else:
            if any(isinstance(s, (A.Exists, A.InSubquery)) for s in c.walk()):
                raise ValidationError(
                    "EXISTS/IN subqueries must be top-level AND conjuncts of WHERE"
                )
            residual.append(c)
    env: dict[str, Column] = {}
    for c in residual:
        df = _bind_scalar_subqueries(df, tables, c, env, registry)
    for c in residual:
        validate(c, scope, "WHERE")
        df = df.filter(Compiler(registry, env).compile(c))
    return df


# Direction value (parse_order_item's True/False/method-name) -> the
# direction that REVERSES it: flip asc<->desc AND the nulls placement,
# so sorting by the reversed spec and taking 1 row yields the LAST row
# of the forward order.
_REVERSED_DIR = {
    True: False,
    False: True,
    "asc_nulls_first": "desc_nulls_last",
    "asc_nulls_last": "desc_nulls_first",
    "desc_nulls_first": "asc_nulls_last",
    "desc_nulls_last": "asc_nulls_first",
}


def _dir_flags(d) -> tuple[bool, bool]:
    """(ascending, nulls_first) for a parse_order_item direction,
    matching Spark's defaults (asc -> NULLS FIRST, desc -> NULLS LAST)."""
    if d is True:
        return True, True
    if d is False:
        return False, False
    return d.startswith("asc"), d.endswith("first")


def _key_eq(col: Column, bval) -> Column:
    """Null-safe equality against a collected boundary value."""
    return col.isNull() if bval is None else col.eqNullSafe(F.lit(bval))


def _key_before(col: Column, bval, d) -> Column:
    """``col`` sorts STRICTLY BEFORE the boundary value under direction
    ``d`` — the same total order Spark's sort uses, including the nulls
    placement (asc -> NULLS FIRST, desc -> NULLS LAST unless spelled)."""
    asc, nulls_first = _dir_flags(d)
    if bval is None:
        # nulls first: nothing precedes a null boundary;
        # nulls last: every non-null precedes it.
        return F.lit(False) if nulls_first else col.isNotNull()
    cmp = (col < F.lit(bval)) if asc else (col > F.lit(bval))
    return (col.isNull() | cmp) if nulls_first else (col.isNotNull() & cmp)


def _apply_with_ties(out: DataFrame, key_cols, dirs, limit: int, offset) -> DataFrame:
    """ANSI/Postgres ``WITH TIES``: keep every row tying the boundary
    row on the ORDER BY keys. Two-pass boundary-key plan (no window,
    no single-task rank): (1) TakeOrderedAndProject the sort-key
    projection to the top ``limit`` rows and take the LAST of them (the
    boundary tuple — sort the ≤limit-row frame by the REVERSED spec,
    limit 1, collect one row); (2) filter the input by ``key <=lex
    boundary`` spelled as an explicit lexicographic predicate with the
    exact null placement of pass 1's sort. Both passes distribute: pass
    1 is the same cost class as the plain LIMIT, pass 2 a plain filter.
    Fewer input rows than ``limit`` degrades gracefully — the boundary
    is then the global maximum and the filter keeps everything.
    NULL sort keys follow the engine's ASC/DESC default placement
    (Spark: NULLS FIRST under ASC), which DIFFERS from DuckDB — with
    nullable keys the returned SET can differ, so spell NULLS
    FIRST/LAST explicitly (the dialect's documented ORDER BY stance).
    OFFSET composition is rejected — engines disagree on whether ties
    count before or after the offset. (Superset over the reference's
    plain LIMIT, src/expression.cpp:497-512.)"""
    if offset is not None:
        raise ValidationError("LIMIT ... WITH TIES cannot be combined with OFFSET")
    knames = [_sq_alias(f"tk{i}") for i in range(len(key_cols))]
    keys = out.select(*[k.alias(n) for k, n in zip(key_cols, knames)])
    fwd = [order_col(F.col(n), d) for n, d in zip(knames, dirs)]
    rev = [order_col(F.col(n), _REVERSED_DIR[d]) for n, d in zip(knames, dirs)]
    boundary = keys.orderBy(*fwd).limit(limit).orderBy(*rev).limit(1).collect()
    if not boundary:  # empty input (or LIMIT 0): nothing ties nothing
        return out.limit(0)
    b = boundary[0]
    eqs = [_key_eq(k, b[n]) for k, n in zip(key_cols, knames)]
    pred = functools.reduce(lambda a, c: a & c, eqs)  # tuple == boundary
    for i, (k, d) in enumerate(zip(key_cols, dirs)):
        clause = _key_before(k, b[knames[i]], d)
        for eq in eqs[:i]:
            clause = eq & clause
        pred = pred | clause
    return out.filter(pred)


def _resolve_table(tables: dict[str, DataFrame], name: str) -> DataFrame:
    if name in tables:
        return tables[name]
    # The reference ignores the FROM identifier and always scans its one
    # loaded table (src/warpdb.cpp:159-190); match that leniency only in
    # the single-table case.
    if len(tables) == 1:
        return next(iter(tables.values()))
    raise ValidationError(f"Unknown table: {name}")


def _resolve_named_windows(q: A.QueryAST) -> None:
    """Replace ``OVER w`` name references with the WINDOW-clause specs."""

    def rec(n: A.Node) -> None:
        for s in n.walk():
            if isinstance(s, A.WindowFunc) and isinstance(s.spec, str):
                if s.spec not in q.windows:
                    raise ValidationError(f"Unknown window name: {s.spec}")
                s.spec = q.windows[s.spec]

    for item, _ in q.select_items:
        rec(item)
    if q.having is not None:
        rec(q.having)
    if q.qualify is not None:
        rec(q.qualify)
    for e, _ in q.order_by:
        rec(e)


def _build_select(tables: dict[str, DataFrame], q: A.QueryAST, registry=None) -> DataFrame:
    _resolve_named_windows(q)
    if q.from_subquery is not None:
        base = build_dataframe(tables, q.from_subquery, registry)
    else:
        base = _resolve_table(tables, q.from_table)
    if q.pivot is not None:
        base = _apply_pivot(base, q.pivot, registry)
    if q.unpivot is not None:
        base = _apply_unpivot(base, q.unpivot)
    from_name = q.from_alias or q.from_table  # alias shadows the name
    scope: dict[str, set[str]] = {from_name: set(base.columns)}
    # declaration-ordered twin of `scope` for SELECT * expansion
    scope_order: dict[str, list[str]] = {from_name: list(base.columns)}
    df = base.alias(from_name)
    hinted = set(q.broadcast_hints)
    if hinted & {from_name, q.from_table}:
        df = F.broadcast(df)

    for j in q.joins:
        if j.subquery is not None:
            right = build_dataframe(tables, j.subquery, registry)
        else:
            right = _resolve_table(tables, j.table)
        jname = j.alias or j.table
        if jname in scope:
            raise ValidationError(f"Duplicate table in joins: {jname}")
        scope[jname] = set(right.columns)
        scope_order[jname] = list(right.columns)
        right = right.alias(jname)
        if hinted & {jname, j.table}:
            right = F.broadcast(right)
        if j.condition is None:
            df = df.crossJoin(right)
        else:
            validate(j.condition, scope, "JOIN ON")
            cond = Compiler(registry).compile(j.condition)
            df = df.join(right, on=cond, how=j.how)
        if j.how in ("left_semi", "left_anti"):
            scope.pop(jname)  # semi/anti joins expose only left columns
            scope_order.pop(jname)

    if q.where is not None:
        df = _apply_where(df, q.where, tables, scope, registry)

    # SELECT * / t.* expand to concrete qualified Vars BEFORE any other
    # pass, so validation, aggregation, and QUALIFY all see plain
    # columns (declaration order; duplicate names across tables get
    # _unique_name suffixes at projection like any other collision)
    if any(isinstance(i, A.Star) for i, _ in q.select_items):
        import dataclasses

        expanded: list[tuple[A.Node, str | None]] = []
        for item, alias in q.select_items:
            if not isinstance(item, A.Star):
                expanded.append((item, alias))
                continue
            if item.table is not None:
                if item.table not in scope_order:
                    raise ValidationError(
                        f"Unknown table: {item.table} in SELECT clause"
                    )
                srcs = [(item.table, c) for c in scope_order[item.table]]
            else:
                srcs = [(t, c) for t, cl in scope_order.items() for c in cl]
            if item.exclude or item.replace:
                colnames = {c for _, c in srcs}
                for ex in item.exclude:
                    if ex not in colnames:
                        raise ValidationError(
                            f"Unknown column: {ex} in EXCLUDE clause"
                        )
                if set(item.exclude) >= colnames:
                    # DuckDB also rejects a star that excludes everything
                    raise ValidationError("EXCLUDE removes every column of *")
                rep = {}
                for expr, name in item.replace:
                    if name not in colnames:
                        raise ValidationError(
                            f"Unknown column: {name} in REPLACE clause"
                        )
                    if name in item.exclude:
                        raise ValidationError(
                            f"REPLACE column {name} is also EXCLUDEd"
                        )
                    rep[name] = expr
                for t, c in srcs:
                    if c in item.exclude:
                        continue
                    expanded.append(
                        (rep[c], c) if c in rep else (A.Var(f"{t}.{c}"), c)
                    )
            else:
                expanded.extend((A.Var(f"{t}.{c}"), c) for t, c in srcs)
        q = dataclasses.replace(q, select_items=expanded)

    # ORDER BY ALL (superset; DuckDB): sort by every select item
    # left-to-right in the requested direction
    if q.order_by_all:
        import dataclasses

        q = dataclasses.replace(
            q,
            order_by=[(item, q.order_by_all_asc) for item, _ in q.select_items],
        )

    # GROUP BY ALL (superset; DuckDB): keys = every select item with no
    # aggregate or window function, in select order
    if q.group_by_all:
        import dataclasses

        keys = [
            item
            for item, _ in q.select_items
            if not _collect_aggs(item)
            and not any(isinstance(s, A.WindowFunc) for s in item.walk())
        ]
        if not keys:
            raise ValidationError(
                "GROUP BY ALL requires at least one non-aggregate select item"
            )
        q = dataclasses.replace(q, group_by=keys)

    # all column names visible in the pre-aggregation frame (shared by
    # ORDER BY/GROUP BY alias resolution and QUALIFY alias scoping)
    in_scope = {c for cols in scope.values() for c in cols}

    # ANSI resolution sugar: integer literals in GROUP BY / ORDER BY are
    # 1-based select-list ordinals; bare names resolve to SELECT aliases
    # — alias-first in ORDER BY (ANSI output-column precedence),
    # column-first in GROUP BY (the alias is an extension there).
    if q.order_by or q.group_by or q.distinct_on:
        import dataclasses

        alias_map = {alias: item for item, alias in q.select_items if alias}

        def resolve(e: A.Node, clause: str, alias_first: bool) -> A.Node:
            if isinstance(e, A.Num) and isinstance(e.value, int):
                if not 1 <= e.value <= len(q.select_items):
                    raise ValidationError(f"{clause} ordinal {e.value} is out of range")
                return q.select_items[e.value - 1][0]
            if isinstance(e, A.Var) and e.name in alias_map:
                if alias_first or e.name not in in_scope:
                    return alias_map[e.name]
            return e

        q = dataclasses.replace(
            q,
            group_by=[resolve(k, "GROUP BY", False) for k in q.group_by],
            grouping_sets=[
                [resolve(k, "GROUP BY", False) for k in s] for s in q.grouping_sets
            ],
            order_by=[(resolve(e, "ORDER BY", True), asc) for e, asc in q.order_by],
            distinct_on=[resolve(e, "DISTINCT ON", True) for e in q.distinct_on],
        )

    aggs: list[A.Agg] = []
    for item, _ in q.select_items:
        aggs += _collect_aggs(item)
    aggs += _collect_aggs(q.having)
    aggs += _collect_aggs(q.qualify)
    for e, _ in q.order_by:
        aggs += _collect_aggs(e)
    for e in q.distinct_on:
        aggs += _collect_aggs(e)
    grouped_mode = bool(q.group_by) or bool(aggs)
    alias_names = {alias for _, alias in q.select_items if alias}

    env: dict[str, Column] = {}
    if grouped_mode:
        plain = Compiler(registry)
        for i, k in enumerate(q.group_by):
            validate(k, scope, "GROUP BY")
        # one column per distinct aggregate expression, computed once
        agg_by_text: dict[str, A.Agg] = {}
        for a in aggs:
            agg_by_text.setdefault(a.text(), a)
        for a in agg_by_text.values():
            # validate every child (argument, FILTER condition, and an
            # ordered-agg ORDER BY key) — not just the argument, so an
            # unknown column anywhere in the aggregate raises here
            # instead of a raw AnalysisException at build time
            for sub in a.children():
                if not isinstance(sub, A.Star):
                    validate(sub, scope, "aggregate")
        key_aliases = {k.text(): f"__k{i}" for i, k in enumerate(q.group_by)}
        agg_aliases = {t: f"__a{i}" for i, t in enumerate(agg_by_text)}
        key_cols = [plain.compile(k).alias(key_aliases[k.text()]) for k in q.group_by]
        mode = q.group_mode
        grouping_calls = [a for a in agg_by_text.values() if a.func == "GROUPING"]
        if grouping_calls and (mode == "plain" or not q.group_by):
            raise ValidationError(
                "GROUPING() requires GROUP BY ROLLUP, CUBE, or GROUPING SETS"
            )
        for a in grouping_calls:
            if a.arg.text() not in key_aliases:
                raise ValidationError(
                    f"GROUPING() argument {a.arg.text()!r} is not a grouping column"
                )

        def _compile_agg(t: str, a: A.Agg) -> Column:
            # GROUPING(expr) must reference the grouping column ATTRIBUTE
            # (Spark's analyzer matches grouping() semantically, and an
            # alias over the expression does not match — hence the
            # pre-projection below for non-plain modes)
            if a.func == "GROUPING":
                return F.grouping(F.col(key_aliases[a.arg.text()])).alias(agg_aliases[t])
            return plain.compile(a).alias(agg_aliases[t])

        agg_cols = [_compile_agg(t, a) for t, a in agg_by_text.items()]
        if not agg_cols:
            # aggregate-less GROUP BY (legal SQL: distinct key tuples);
            # Spark's agg() asserts non-empty, so carry a dropped dummy
            agg_cols = [F.count(F.lit(1)).alias("__gb_dummy")]
        if q.group_by:
            if mode == "plain":
                df = df.groupBy(*key_cols).agg(*agg_cols)
            else:
                # rollup/cube/grouping-sets: pre-project every key as a
                # named column so grouping()/grouping-set membership
                # resolve against real attributes
                df = df.select("*", *key_cols)
                kcols = [F.col(key_aliases[k.text()]) for k in q.group_by]
                if mode == "rollup":
                    gd = df.rollup(*kcols)
                elif mode == "cube":
                    gd = df.cube(*kcols)
                else:
                    sets = [
                        [F.col(key_aliases[e.text()]) for e in s]
                        for s in q.grouping_sets
                    ]
                    gd = df.groupingSets(sets, *kcols)
                df = gd.agg(*agg_cols)
        else:
            df = df.agg(*agg_cols)
        env = {t: F.col(a) for t, a in key_aliases.items()}
        env.update({t: F.col(a) for t, a in agg_aliases.items()})
        env_texts = set(env)
        for item, _ in q.select_items:
            _check_grouped(item, env_texts, "SELECT")
        if q.having is not None:
            _check_grouped(q.having, env_texts, "HAVING")
            df = _bind_scalar_subqueries(df, tables, q.having, env, registry)
            df = df.filter(Compiler(registry, env).compile(q.having))
        for e, _ in q.order_by:
            _check_grouped(e, env_texts, "ORDER BY")
        for e in q.distinct_on:
            _check_grouped(e, env_texts, "DISTINCT ON")
        if q.qualify is not None:
            # select-list aliases are legal in QUALIFY (output-context
            # clause, same precedence as ORDER BY)
            _check_grouped(q.qualify, env_texts | alias_names, "QUALIFY")
    else:
        for item, _ in q.select_items:
            validate(item, scope, "SELECT")
        if q.having is not None:
            raise ValidationError("HAVING requires GROUP BY or an aggregate")
        for e, _ in q.order_by:
            validate(e, scope, "ORDER BY")
        for e in q.distinct_on:
            validate(e, scope, "DISTINCT ON", extra_ok=alias_names)
        if q.qualify is not None:
            validate(q.qualify, scope, "QUALIFY", extra_ok=alias_names)

    # scalar subqueries in SELECT / ORDER BY bind as one-row broadcast
    # cross-joins (post-aggregation in grouped mode — the grouped frame
    # is small by then)
    for item, _ in q.select_items:
        df = _bind_scalar_subqueries(df, tables, item, env, registry)
    for e, _ in q.order_by:
        df = _bind_scalar_subqueries(df, tables, e, env, registry)

    comp = Compiler(registry, env)

    if q.qualify is not None:
        # QUALIFY (superset; Snowflake/DuckDB semantics): window
        # functions — in the SELECT list and in QUALIFY itself — see the
        # PRE-filter frame, so materialize every distinct window
        # expression once, filter on the compiled predicate, and let the
        # projection reuse the materialized columns. Spark rejects raw
        # window functions inside filter(), which is why they go through
        # temp columns.
        df = _bind_scalar_subqueries(df, tables, q.qualify, env, registry)
        wfuncs: dict[str, A.WindowFunc] = {}
        for node in [i for i, _ in q.select_items] + [q.qualify] + [e for e, _ in q.order_by]:
            for s in node.walk():
                if isinstance(s, A.WindowFunc):
                    wfuncs.setdefault(s.text(), s)
        # Alias entries live ONLY in QUALIFY-scoped compilers — leaking
        # them into the final projection would let an alias shadow a
        # REAL column of the same name in sibling select items (wrong
        # results, found in review). Everywhere inside QUALIFY the
        # precedence is COLUMN-FIRST (DuckDB parity — the oracle
        # engine): an alias resolves only when no in-scope column has
        # that name. In grouped mode the pre-projection frame is the
        # aggregated one, so base-table names are no longer addressable
        # and aliases like ``sum(price) AS price`` resolve freely
        # (setdefault still protects the group-key/agg texts in env).
        shadowed = set() if grouped_mode else in_scope
        wcomp = Compiler(registry, dict(env))
        # mutate the compiler's own env: later additions (aliases, window
        # columns) must be visible to every compile below, and Compiler
        # swaps in a fresh dict when handed an empty one
        qenv = wcomp.env
        for item, alias in q.select_items:
            if (
                alias
                and alias not in shadowed
                and not any(isinstance(s, A.WindowFunc) for s in item.walk())
            ):
                qenv.setdefault(alias, wcomp.compile(item))
        if grouped_mode:
            # dialect-level check BEFORE Spark sees the plan: every
            # column inside a window spec/arg must be covered by a group
            # key, an aggregate, or a select alias — otherwise Spark
            # would throw an opaque error naming internal __k/__a cols
            known = set(qenv) | alias_names
            for w in wfuncs.values():
                parts = list(w.args)
                if isinstance(w.spec, A.WindowSpec):
                    parts += list(w.spec.partition_by)
                    parts += [e for e, _ in w.spec.order_by]
                for p in parts:
                    _check_grouped(p, known, "QUALIFY window")
        wnames = {t: f"__w{i}" for i, t in enumerate(wfuncs)}
        if wfuncs:
            df = df.select("*", *[wcomp.compile(w).alias(wnames[t]) for t, w in wfuncs.items()])
        qenv.update({t: F.col(c) for t, c in wnames.items()})
        # bare alias references in the PREDICATE (QUALIFY rn = 1) —
        # same column-first precedence; window functions were already
        # materialized above, so these additions can't change any spec
        for item, alias in q.select_items:
            if alias and alias not in shadowed:
                qenv.setdefault(alias, wcomp.compile(item))
        df = df.filter(wcomp.compile(q.qualify).cast("boolean"))
        # the projection below reuses the materialized window columns but
        # must NOT see the alias entries
        proj_env = dict(env)
        proj_env.update({t: F.col(c) for t, c in wnames.items()})
        comp = Compiler(registry, proj_env)

    if q.distinct_on:
        # DISTINCT ON (Postgres semantics): first row per ON-group under
        # the query's ORDER BY. Postgres's well-definedness rule is
        # enforced, not assumed: ORDER BY must exist and lead with the
        # ON expressions — otherwise "first" would be partition luck.
        # Executes as one row_number window (a single hash partitioning
        # on the ON keys; Spark sorts within partitions — no global
        # sort at this stage).
        if not q.order_by:
            raise ValidationError("SELECT DISTINCT ON requires ORDER BY")
        on_texts = [e.text() for e in q.distinct_on]
        lead = [e.text() for e, _ in q.order_by[: len(on_texts)]]
        if lead != on_texts:
            raise ValidationError(
                "SELECT DISTINCT ON expressions must match initial ORDER BY expressions"
            )
        # Postgres/DuckDB evaluate select-list window functions over the
        # PRE-DISTINCT-ON frame — materialize any not already bound (the
        # QUALIFY block may have done some) before the row filter, so
        # the projection reuses full-frame values instead of silently
        # recomputing over the one-row-per-group survivors.
        dw: dict[str, A.WindowFunc] = {}
        for node in [i for i, _ in q.select_items] + [e for e, _ in q.order_by]:
            for s in node.walk():
                if isinstance(s, A.WindowFunc) and s.text() not in comp.env:
                    dw.setdefault(s.text(), s)
        if dw:
            dnames = {t: f"__dw{i}" for i, t in enumerate(dw)}
            df = df.select(
                "*", *[comp.compile(w).alias(dnames[t]) for t, w in dw.items()]
            )
            denv = dict(comp.env)
            denv.update({t: F.col(c) for t, c in dnames.items()})
            comp = Compiler(registry, denv)
        from pyspark.sql.window import Window as _W

        rn = F.row_number().over(
            _W.partitionBy(*[comp.compile(e) for e in q.distinct_on]).orderBy(
                *[order_col(comp.compile(e), asc) for e, asc in q.order_by]
            )
        )
        df = df.withColumn("__distinct_on_rn", rn)
        df = df.filter(F.col("__distinct_on_rn") == 1).drop("__distinct_on_rn")

    used: set[str] = set()
    names: list[str] = []
    proj: list[Column] = []
    for item, alias in q.select_items:
        name = _unique_name(alias or item.auto_alias(), used)
        names.append(name)
        proj.append(comp.compile(item).alias(name))

    if q.distinct:
        out = df.select(*proj).distinct()
        if q.order_by:
            # post-DISTINCT sort can only reference the projected values
            # (matches the reference's dedup-then-sort on the output
            # column, src/warpdb.cpp:463-476)
            proj_env = {
                item.text(): F.col(name)
                for (item, _), name in zip(q.select_items, names)
            }
            sort_cols = []
            for e, asc in q.order_by:
                if e.text() not in proj_env and not (
                    isinstance(e, A.Var) and e.name in names
                ):
                    raise ValidationError(
                        "ORDER BY with DISTINCT must reference selected expressions"
                    )
                c = proj_env.get(e.text(), F.col(e.text()))
                sort_cols.append(order_col(c, asc))
            out = out.orderBy(*sort_cols)
    elif q.order_by:
        sort_names = [f"__s{i}" for i in range(len(q.order_by))]
        sort_proj = [comp.compile(e).alias(n) for (e, _), n in zip(q.order_by, sort_names)]
        out = df.select(*proj, *sort_proj)
        sort_cols = [
            order_col(F.col(n), asc) for (e, asc), n in zip(q.order_by, sort_names)
        ]
        if q.limit_with_ties and q.limit is not None:
            dirs = [asc for _, asc in q.order_by]
            out = _apply_with_ties(
                out, [F.col(n) for n in sort_names], dirs, q.limit, q.offset
            )
        out = out.orderBy(*sort_cols).drop(*sort_names)
    else:
        out = df.select(*proj)

    # reference applies OFFSET before LIMIT (src/warpdb.cpp:485-495);
    # df.offset(m).limit(n) has identical semantics.
    if q.limit_with_ties and q.limit is not None:
        if not q.order_by:
            raise ValidationError("LIMIT ... WITH TIES requires ORDER BY")
        if q.distinct:
            raise ValidationError("LIMIT ... WITH TIES is not supported with DISTINCT")
    else:
        if q.offset is not None:
            out = out.offset(q.offset)
        if q.limit is not None:
            out = out.limit(q.limit)
    return out
