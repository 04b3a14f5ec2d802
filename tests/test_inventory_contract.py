"""Inventory loading contract: entry ordering for the driver's bounded
correctness window, rotation-bookkeeping invariants (no dupes, pending
always ahead of green), and loud failure when a submodule can't import
(a silent except-ImportError previously made 34 entries vanish)."""

import sys

import pytest

from warpdb_spark import inventory
from warpdb_spark.inventory import rotation


def test_driver_priority_entries_come_first():
    q, o = inventory.load_all()
    names = list(q)
    assert names[: len(inventory.DRIVER_PRIORITY)] == inventory.DRIVER_PRIORITY
    # every priority name has a callable; oracle coverage stays declared
    assert all(callable(q[n]) for n in names)
    assert set(o) <= set(q)


def test_window_is_all_never_driver_checked():
    """The driver verifies ~50 entries from the front: as long as any
    entry lacks a driver-green row, the front of the emission order must
    be exclusively such entries (pending-before-green)."""
    q, _ = inventory.load_all()
    names = list(q)
    n_pending = len(rotation.PENDING_ORDER)
    window = names[: min(50, n_pending)]
    for name in window:
        assert name not in rotation.DRIVER_GREEN, (
            f"{name} already driver-green (r{rotation.DRIVER_GREEN.get(name)}) "
            "but occupies a front-window slot"
        )
    # and nothing pending hides behind a green entry
    first_green_idx = next(
        (i for i, n in enumerate(names) if n in rotation.DRIVER_GREEN), len(names)
    )
    assert first_green_idx == n_pending


def test_rotation_bookkeeping_invariants():
    q, _ = inventory.load_all()
    inv = set(q)
    pending = rotation.PENDING_ORDER
    green = rotation.DRIVER_GREEN
    # no duplicates
    assert len(set(pending)) == len(pending)
    # disjoint: a green entry must not hog a pending slot
    assert not (set(pending) & set(green))
    # complete: every inventory entry is tracked exactly once
    assert set(pending) | set(green) == inv
    # rounds are sane
    assert all(isinstance(r, int) and r >= 1 for r in green.values())


def test_rotation_build_rejects_drift(monkeypatch):
    q, _ = inventory.load_all()
    names = list(q)
    # duplicate pending name
    monkeypatch.setattr(rotation, "PENDING_ORDER", ["dialect_setops", "dialect_setops"])
    with pytest.raises(RuntimeError, match="duplicate"):
        rotation.build_driver_priority(names)
    # pending ∩ green
    monkeypatch.setattr(rotation, "PENDING_ORDER", ["reshape_pivot"])
    with pytest.raises(RuntimeError, match="both pending and green"):
        rotation.build_driver_priority(names)
    # untracked inventory entry
    monkeypatch.setattr(rotation, "PENDING_ORDER", [])
    monkeypatch.setattr(
        rotation,
        "DRIVER_GREEN",
        {k: v for k, v in rotation.DRIVER_GREEN.items() if k != "reshape_pivot"},
    )
    with pytest.raises(RuntimeError, match="missing from rotation bookkeeping"):
        rotation.build_driver_priority(names)
    # unknown name
    monkeypatch.setattr(rotation, "PENDING_ORDER", ["no_such_entry"])
    with pytest.raises(RuntimeError, match="no_such_entry"):
        rotation.build_driver_priority(names)


def test_unknown_priority_name_raises(monkeypatch):
    monkeypatch.setattr(
        inventory, "DRIVER_PRIORITY", inventory.DRIVER_PRIORITY + ["no_such_entry"]
    )
    with pytest.raises(RuntimeError, match="no_such_entry"):
        inventory.load_all()


@pytest.mark.slow
def test_no_nested_typed_result_columns(spark, sf_dir):
    """The driver's canonicalizer runs pandas ``sort_values`` over the
    raw result columns and dies with ``TypeError: unhashable type:
    'list'`` on any array/map/struct-typed cell (the r4
    ``dialect_array_agg`` red row). Ban the class: every entry's result
    schema must be flat — serialize nested values (array_join/to_json)
    before returning them."""
    from pyspark.sql import types as T

    q, _ = inventory.load_all()
    offenders = {}
    try:
        for name, fn in q.items():
            # mostly analysis-only; a few entries (the two-phase
            # prefix-sum family) run driver-side aggregate jobs and
            # persist() at DataFrame-construction time
            schema = fn(spark, sf_dir).schema
            nested = [
                f.name
                for f in schema.fields
                if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
            ]
            if nested:
                offenders[name] = nested
    finally:
        # drop the construction-time persist()s so the shared session
        # fixture doesn't carry pinned DataFrames for the rest of the run
        spark.catalog.clearCache()
    assert not offenders, (
        "entries returning nested-typed columns (driver canonicalizer "
        f"cannot hash them): {offenders}"
    )


@pytest.mark.slow
def test_no_long_product_moment_sums(spark, sf_dir):
    """Ban the rows²-growth int64 overflow class: a SUM over a product
    of two long-typed columns (Σ i·x rank moments, Σ x² second
    moments) crosses int64 at a few million rows per group — ANSI mode
    crashes at scale, non-ANSI silently wraps (found live in round 6:
    agg_gini_by_segment and events_trend_ols both crashed a 20M-row
    replay). Integer product-moments must accumulate in decimal(38,0);
    tools/lint_moment_overflow.py holds the rule over every entry's
    analyzed plan."""
    from tools.lint_moment_overflow import lint_df

    q, _ = inventory.load_all()
    offenders = {}
    try:
        for name, fn in q.items():
            try:
                findings = lint_df(fn(spark, sf_dir))
            except Exception:
                continue  # construction failures are other tests' business
            if findings:
                offenders[name] = findings
    finally:
        spark.catalog.clearCache()
    assert not offenders, (
        f"long-product moment sums (int64 overflow at scale): {offenders}"
    )


def test_submodule_import_failure_is_loud(monkeypatch):
    """If pipeline_ops can't import, load_all must raise — not quietly
    drop its 34 entries and report a greener round than is real."""
    monkeypatch.delattr(inventory, "pipeline_ops", raising=False)
    monkeypatch.delitem(sys.modules, "warpdb_spark.inventory.pipeline_ops", raising=False)
    monkeypatch.setitem(sys.modules, "warpdb_spark.inventory.pipeline_ops", None)
    with pytest.raises(ImportError):
        inventory.load_all()


def test_headline_has_no_window_sort_on_low_cardinality_key(spark, sf_dir):
    """Ban the skewed-window scale-killer from the FROZEN bench suite:
    a window (per-group sort) partitioned by a bounded-domain key puts
    ~1/|domain| of the corpus in ONE task at 100 TB. Exact
    order-statistic entries over such keys (agg_gini_by_segment,
    window_distribution_functions, agg_weighted_median) are kept as
    sf-bounded diagnostics with binned/approx scale siblings — they
    must never join the headline set. Low-cardinality is measured from
    the data (DuckDB distinct counts per column, ≤ 10 at any sf —
    categorical domains don't grow with scale), and window partition
    keys are read from the optimized plan's windowspecdefinition()
    nodes, so the test catches a future headline addition, not just
    today's list."""
    import re

    import duckdb

    from bench import HEADLINE

    tables = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    con = duckdb.connect()
    low_card: set[str] = set()
    for t in tables:
        rel = con.sql(f"SELECT * FROM '{sf_dir}/{t}.parquet' LIMIT 0")
        for col, typ in zip(rel.columns, rel.types):
            if str(typ).startswith(("BLOB", "STRUCT", "LIST", "FLOAT[]")):
                continue
            n = con.sql(
                f'SELECT count(DISTINCT "{col}") FROM \'{sf_dir}/{t}.parquet\''
            ).fetchone()[0]
            if n <= 10:
                low_card.add(col)
    assert "o_orderpriority" in low_card and "l_orderkey" not in low_card

    q, _ = inventory.load_all()
    offenders = {}
    try:
        for name in HEADLINE:
            if name not in q:
                continue
            plan = (
                q[name](spark, sf_dir)
                ._jdf.queryExecution().optimizedPlan().toString()
            )
            for spec in re.findall(r"windowspecdefinition\(([^)]*)", plan):
                # args before the first "col ASC/DESC ..." token are the
                # partition spec; strip the #exprId[type] suffix.
                # FAIL CLOSED on anything unparseable: a partition key
                # that is a nested EXPRESSION (contains "(") truncates
                # the regex capture — treat it as an offender rather
                # than silently passing the guard (r7 review: a
                # low-cardinality key wrapped in pmod() would otherwise
                # evade the ban this test exists to enforce)
                part_cols = []
                for arg in spec.split(", "):
                    if " ASC" in arg or " DESC" in arg or "specifiedwindowframe" in arg:
                        break
                    part_cols.append(arg.split("#")[0])
                bad = [c for c in part_cols if c in low_card]
                bad += [
                    f"unparseable-expression:{c}" for c in part_cols if "(" in c
                ]
                if bad:
                    offenders.setdefault(name, []).extend(bad)
    finally:
        spark.catalog.clearCache()
    assert not offenders, (
        "headline queries window-partitioned on a bounded-domain key "
        f"(one task holds ~1/|domain| of the corpus at 100 TB): {offenders}"
    )


@pytest.mark.slow
def test_inventory_window_audit_matches_reviewed_exceptions(spark, sf_dir):
    """Inventory-WIDE extension of the headline window lint (r7 verdict
    item 5): sweep every entry's optimized plan with
    tools/audit_window_plans.py and pin the findings to the reviewed
    exception lists. A new bounded-key window sort anywhere in the 262
    entries — or an existing safe entry whose plan silently degrades to
    the raw tier — fails here until it is reviewed and either fixed or
    added to KNOWN_RAW with a reason. Equality (not subset) both ways:
    an entry that gets FIXED must also be pruned from the list, so the
    pins never go stale."""
    from tools.audit_window_plans import (
        KNOWN_AGG_INPUT,
        KNOWN_COGROUP,
        KNOWN_COLLECT,
        KNOWN_FLATMAP,
        KNOWN_OPAQUE,
        KNOWN_OPAQUE_KEYS,
        KNOWN_RAW,
        audit,
    )

    findings, errors = audit(spark, sf_dir)
    assert not errors, f"entries failed to construct during audit: {errors}"
    raw = {n: set(c) for n, c in findings["raw"].items()}
    agg = {n: set(c) for n, c in findings["agg_input"].items()}
    flatmap = {n: set(c) for n, c in findings["flatmap"].items()}
    assert raw == KNOWN_RAW, (
        "raw-tier bounded-key window sorts diverge from the reviewed "
        f"list — new offender or stale pin. findings={raw}"
    )
    assert agg == KNOWN_AGG_INPUT, (
        "agg-input bounded-key windows diverge from the reviewed list. "
        f"findings={agg}"
    )
    assert flatmap == KNOWN_FLATMAP, (
        "bounded-key applyInPandas/MapGroups executors diverge from the "
        f"reviewed list (one worker holds 1/|domain| of the input at "
        f"scale). findings={flatmap}"
    )
    # opaque tier (gated r10): after stripping the class-reviewed
    # __chunk key, findings must equal the per-entry pins exactly —
    # a NEW unbounded/underived window key needs a review note, and a
    # fixed one must be pruned.
    opaque = {
        n: set(c) - KNOWN_OPAQUE_KEYS for n, c in findings["opaque"].items()
    }
    opaque = {n: c for n, c in opaque.items() if c}
    assert opaque == KNOWN_OPAQUE, (
        "opaque-key windows diverge from the reviewed list — new "
        f"unclassifiable partition key or stale pin. findings={opaque}"
    )
    # cogroup tier (gated r12 — the r11 verdict's blind spot): the
    # ENTRY set must match the pins exactly (a retired cogroup must be
    # pruned); key sets match up to ``__ck``, the _subchunk column
    # whose presence depends on the corpus scan partition count at the
    # test sf (pins include it; a 1-partition test corpus won't).
    cogroup = {n: set(c) for n, c in findings["cogroup"].items()}
    assert set(cogroup) == set(KNOWN_COGROUP), (
        "FlatMapCoGroupsInPandas executors diverge from the reviewed "
        f"entry list. findings={cogroup}"
    )
    for n, keys in cogroup.items():
        assert keys <= KNOWN_COGROUP[n] and keys >= KNOWN_COGROUP[n] - {"__ck"}, (
            f"cogroup keys for {n} diverge from the reviewed pin: "
            f"found {keys}, pinned {KNOWN_COGROUP[n]}"
        )
    # collect tier (gated r12): every Aggregate with a value-buffer
    # aggregate (collect_list/set, exact percentile/median/mode,
    # listagg) must match the reviewed pins exactly — buffers never
    # spill, so each pin documents the group-SIZE bound that makes it
    # safe, and a fixed/respelled entry must be pruned.
    collect = {n: set(c) for n, c in findings["collect"].items()}
    assert collect == KNOWN_COLLECT, (
        "value-buffer aggregates diverge from the reviewed list — new "
        f"unreviewed collect/exact-percentile buffer or stale pin. "
        f"findings={collect}"
    )


def test_chunk_column_name_minted_only_in_reviewed_files():
    """The audit's KNOWN_OPAQUE_KEYS allowance passes any window keyed
    on ``__chunk`` because that name is the chunked two-pass
    primitives' corpus-proportional chunk column. That allowance is
    only sound while the name stays confined to the reviewed files —
    a new module naming some bounded column __chunk would silently
    ride it. Pin the file set."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "warpdb_spark"
    minters = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "__chunk" in p.read_text()
    )
    assert minters == [
        "inventory/pipeline_ops.py",
        "operators/sequence.py",
    ], minters


def test_green_recheck_order_is_changed_then_oldest_round_first():
    """With the driver-green contract closed (262/262 in r7), window
    re-check slots guard against regression AND stale evidence: the
    green tail of the emission order must front every entry whose
    source fingerprint drifted since its last green row (r8 verdict
    defect #3 — a rewrite must not ship on old driver evidence), and
    within each tier be non-decreasing in the round of the entry's
    most recent green row, so the entries longest without a driver
    check re-verify soonest."""
    from warpdb_spark.inventory.fingerprint import changed_since_green
    from warpdb_spark.inventory.fingerprints import GREEN_FINGERPRINTS

    q, o = inventory.load_all()
    names = list(q)
    greens = [n for n in names if n in rotation.DRIVER_GREEN]
    tail = [n for n in inventory.DRIVER_PRIORITY if n in rotation.DRIVER_GREEN]
    assert sorted(tail) == sorted(greens)
    changed = changed_since_green(q, o, GREEN_FINGERPRINTS)
    keys = [(n not in changed, rotation.DRIVER_GREEN[n]) for n in tail]
    assert keys == sorted(keys), (
        "green re-checks not (changed-tier, oldest-last-green)-first"
    )


def test_fingerprints_are_deterministic_and_sensitive():
    """entry_fingerprint must be stable across calls for an unchanged
    tree (a flapping fingerprint would thrash the re-check queue) and
    must react to BOTH sides of the driver's comparison: the Spark
    callable's transitive source and the oracle SQL."""
    from warpdb_spark.inventory.fingerprint import (
        current_fingerprints,
        entry_fingerprint,
    )

    q, o = inventory.load_all()
    fps = current_fingerprints(q, o)
    assert fps == current_fingerprints(q, o)
    assert all(
        isinstance(v, str) and len(v) == 16 for v in fps.values()
    )
    # collisions would hide a rewrite behind another entry's record
    assert len(set(fps.values())) == len(fps)
    name = "flagship_filter_project"
    assert entry_fingerprint(q[name], o[name]) != entry_fingerprint(
        q[name], o[name] + " -- edited"
    )


def test_every_fingerprint_record_is_green():
    """GREEN_FINGERPRINTS records last-green source states; a record
    for a pending entry would let it skip the changed tier on its
    first promotion round."""
    from warpdb_spark.inventory.fingerprints import GREEN_FINGERPRINTS

    not_green = set(GREEN_FINGERPRINTS) - set(rotation.DRIVER_GREEN)
    assert not not_green, f"fingerprints recorded for non-green entries: {not_green}"


def test_changed_tier_orders_ahead_of_unchanged(monkeypatch):
    """Synthetic pin of the tier rule: mark one recent-green entry
    changed and it must outrank every unchanged green, while pending
    entries still outrank it."""
    q, _ = inventory.load_all()
    names = list(q)
    greens_by_round = sorted(
        rotation.DRIVER_GREEN, key=lambda n: rotation.DRIVER_GREEN[n]
    )
    newest = greens_by_round[-1]
    order = rotation.build_driver_priority(names, changed={newest})
    tail = [n for n in order if n in rotation.DRIVER_GREEN]
    assert tail[0] == newest
    order_unchanged = rotation.build_driver_priority(names, changed=set())
    assert order_unchanged.index(newest) > order.index(newest)


def test_fingerprints_immune_to_construction_side_effects(spark, sf_dir):
    """r9 isolated-run finding: private mutable module globals
    (plans.builder._SQ_SEQ subquery counter,
    curation_ext._JACCARD_EDGE_CACHE persist registry) leaked runtime
    state into const-aware fingerprints — constructing any dialect
    entry changed 41 entries' fingerprints mid-process, flapping the
    changed-since-green tier. Constructing entries must leave every
    fingerprint untouched."""
    from warpdb_spark.inventory import fingerprint as FP

    q, o = inventory.load_all()
    probes = [
        "dialect_tpch_q1",       # bumps the _SQ_SEQ counter
        "graph_neighbor_jaccard",  # fills a persist_scoped slot
        "window_qualify",
    ]
    before = {n: FP.entry_fingerprint(q[n], o.get(n)) for n in probes}
    try:
        for n in probes:
            q[n](spark, sf_dir)
    finally:
        spark.catalog.clearCache()
    FP._SOURCE_CACHE.clear()
    after = {n: FP.entry_fingerprint(q[n], o.get(n)) for n in probes}
    assert after == before


def test_private_upper_behavior_tables_are_hashed():
    """r9 session-2 review finding: the first runtime-state fix
    excluded ALL private mutable globals, silently un-hashing the
    _UPPER behavior tables this codebase uses (_CMS_PROBES, stopword
    sets, _FUNC_ALIASES) — an edit to one changed entry OUTPUTS
    without floating the entry to the changed-since-green tier. The
    gate now hashes UPPERCASE-named mutable data (public or private)
    and excludes only the explicit RUNTIME_STATE registry."""
    from warpdb_spark.inventory import fingerprint as FP

    # registered runtime state: never hashed
    assert not FP._is_static_const(
        "warpdb_spark.plans.builder", "_SQ_SEQ", [0]
    )
    # private UPPER mutable table: hashed (the review's defect class)
    assert FP._is_static_const("warpdb_spark.x", "_CMS_PROBES", ["the"])
    assert FP._is_static_const("warpdb_spark.x", "_STOP", {"the"})
    # lowercase mutable global: runtime state by convention
    assert not FP._is_static_const("warpdb_spark.x", "_cache", {})
    # immutable pure data: always
    assert FP._is_static_const("warpdb_spark.x", "_k", 3)


def test_behavior_table_edit_floats_the_entry():
    """End-to-end: mutating a referenced _UPPER table must change the
    entry's fingerprint (this is what makes the rotation re-check an
    entry whose constants were edited)."""
    from warpdb_spark.inventory import fingerprint as FP
    from warpdb_spark.inventory import scale_ops

    q, o = inventory.load_all()
    name = "sketch_countmin_words"
    before = FP.entry_fingerprint(q[name], o.get(name))
    saved = scale_ops._CMS_PROBES
    scale_ops._CMS_PROBES = list(saved) + ["__probe__"]
    try:
        FP._SOURCE_CACHE.clear()
        after = FP.entry_fingerprint(q[name], o.get(name))
    finally:
        scale_ops._CMS_PROBES = saved
        FP._SOURCE_CACHE.clear()
    assert after != before


def test_with_ties_plan_has_no_window_node(spark, sf_dir):
    """WITH TIES executes as the two-pass boundary-key plan (r10 verdict
    item 1): pass 1 TakeOrderedAndProject's the sort keys to the top-n
    and collects ONE boundary row; pass 2 filters the input by an
    explicit lexicographic predicate. The old spelling — rank() over an
    UNPARTITIONED Window — funneled the whole corpus through one task;
    this pin fails if any spelling of WITH TIES regresses to a Window
    node (the audit tool skips empty-partition windows by design, so
    the shape is pinned here)."""
    from warpdb_spark.api import WarpDB

    db = WarpDB(f"{sf_dir}/orders.parquet", table_name="orders", spark=spark)
    for sql in (
        # single key, the inventory entry's shape
        "SELECT o_custkey, count(*) AS n FROM orders "
        "GROUP BY o_custkey ORDER BY n DESC LIMIT 10 WITH TIES",
        # multi-key + explicit nulls placement + expression key
        "SELECT o_orderkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC NULLS FIRST, o_orderkey % 7 ASC "
        "FETCH FIRST 5 ROWS WITH TIES",
    ):
        df = db.query_sql(sql)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Window [" not in plan, (
            f"WITH TIES regressed to a window plan for {sql!r}:\n{plan}"
        )


class TestCapabilityOverlap:
    """Mechanized r10-incident guard (r10 verdict item 9): two late
    additions duplicated existing capabilities under new names. The
    overlap index (IDF-weighted distinctive-token similarity over
    oracle SQL) pins the strong-signal tier to a reviewed twins list
    and keeps the nearest-neighbor detector calibrated on the actual
    incident SQL recovered from git history."""

    # the two removed r10 oracles, verbatim (commit 1c73c4f's deletion)
    _TEMPERATURE_SQL = (
        r"WITH per AS (SELECT source, sum(len(string_split_regex(trim(text), "
        r"'\s+'))) AS n_tokens FROM documents GROUP BY source), "
        "tot AS (SELECT sum(n_tokens) AS z1, sum(sqrt(n_tokens)) AS z2 FROM per) "
        "SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, "
        "round(n_tokens / z1, 6) AS weight_t1, "
        "round(sqrt(n_tokens) / z2, 6) AS weight_t2, "
        "round((sqrt(n_tokens) / z2) / (n_tokens / z1), 6) AS upsample_x "
        "FROM per, tot"
    )
    _PII_SQL = (
        "WITH d AS (SELECT source, text "
        "|| CASE WHEN doc_id % 7 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END "
        "|| CASE WHEN doc_id % 11 = 3 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 254 + 1 AS VARCHAR) ELSE '' END "
        "|| CASE WHEN doc_id % 13 = 5 THEN ' call +1-555-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END AS t "
        "FROM documents), "
        r"m AS (SELECT source, len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9.]+\.com')) AS ne, "
        r"len(regexp_extract_all(t, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS ni, "
        r"len(regexp_extract_all(t, '\+1-555-[0-9]{4}')) AS np, "
        "length(t) - length(regexp_replace(regexp_replace(regexp_replace(t, "
        r"'[a-z0-9]+@[a-z0-9.]+\.com', '[EMAIL]', 'g'), "
        r"'[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '[IP]', 'g'), "
        r"'\+1-555-[0-9]{4}', '[PHONE]', 'g')) AS removed FROM d) "
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(CASE WHEN ne + ni + np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii, "
        "CAST(sum(ne) AS BIGINT) AS n_emails, CAST(sum(ni) AS BIGINT) AS n_ips, "
        "CAST(sum(np) AS BIGINT) AS n_phones, "
        "CAST(sum(removed) AS BIGINT) AS chars_removed "
        "FROM m GROUP BY source"
    )

    @pytest.fixture(scope="class")
    def idx(self):
        from warpdb_spark.inventory.overlap import OverlapIndex

        _, oracles = inventory.load_all()
        return OverlapIndex(oracles)

    def test_strong_signal_pairs_equal_reviewed_twins(self, idx):
        """Equality both ways: a NEW >=TWIN_THRESH pair needs a review
        note; a pruned/renamed entry must leave the allowlist too."""
        from warpdb_spark.inventory.overlap import ALLOWED_TWINS

        found = {(a, b) for _, a, b in idx.twin_pairs()}
        assert found == set(ALLOWED_TWINS), (
            f"new unreviewed: {sorted(found - set(ALLOWED_TWINS))}; "
            f"stale pins: {sorted(set(ALLOWED_TWINS) - found)}"
        )

    def test_r10_incident_pairs_rank_in_top3_nearest(self, idx):
        """The detector that would have caught the incident: both
        removed entries rank their true duplicate in the top-3 nearest
        existing capabilities."""
        top_t = [n for _, n in idx.nearest(self._TEMPERATURE_SQL, k=3)]
        assert "sample_mixture_alpha" in top_t, top_t
        top_p = [n for _, n in idx.nearest(self._PII_SQL, k=3)]
        assert "pii_scrub" in top_p, top_p

    def test_overlap_tool_passes_on_current_inventory(self):
        import subprocess
        import pathlib

        root = pathlib.Path(__file__).resolve().parents[1]
        res = subprocess.run(
            [sys.executable, str(root / "tools" / "check_overlap.py"),
             "similarity_topk_batch"],
            capture_output=True, text=True, timeout=240,
        )
        assert res.returncode == 0, res.stdout + res.stderr
        assert "nearest existing capabilities" in res.stdout


def test_fingerprint_sees_function_local_imports():
    """r11 finding: entries importing operators INSIDE the function
    body (``from warpdb_spark.operators import similarity as S``) bound
    a local the globals walk never saw — their operator rewrites never
    floated them into the changed-since-green tier (the IVFADC refactor
    shipped invisible to the old metric). Pin that the walk now
    resolves the dotted IMPORT_NAME from co_names and reaches the
    operator's source, deterministically (before OR after the lazy
    submodule import happens)."""
    from warpdb_spark.inventory import fingerprint as FP
    from warpdb_spark.inventory.analytics_ext import similarity_ivfpq

    keys = {k for k, _ in FP._collect(similarity_ivfpq)}
    assert ("warpdb_spark.operators.similarity", "ivfpq_topk") in keys
    assert ("warpdb_spark.operators.similarity", "_ivfpq_index") in keys
