"""Mechanical rotation ledger: which registry queries NEED a driver
CORRECTNESS row this round, and the registry order that puts them
inside the 50-entry gate cap.

The correctness driver checks only the FIRST 50 registry entries per
round. This tool decides that order: it writes ``cap_order`` into
``TAINT_LEDGER.json`` and ``__spark_entry__`` orders the registry by
it. ``cap_order`` is every registry name, stably sorted by
``(not never_checked, not tainted, last_green_round or 0)`` with
declaration order as the tie-break — never-checked queries first, then
tainted ones, then the oldest greens. The evidence is rebuilt at the
LINE level, so "its executed operator lines are untouched" is a
machine-checked claim rather than an argument:

1. **Attribution** — for every registry query, the exact (file, line)
   set executed while building its plan, captured with ``sys.settrace``
   (engine frames only) while calling ``fn(spark, sf0.001)``. Building
   the DataFrame runs exactly the Python that defines the query's
   semantics (streaming gates execute their micro-batch too), so this
   is the real routing, not an import graph.
2. **Green history** — ``CORRECTNESS_r{N}.json`` per round; green =
   rows+schema+hash match with no error (hash may be absent for the
   rows-only streaming checks). A green in round N certifies the tree
   at round N's boundary commit (``round N: verdict/...``).
3. **Change history** — ``git diff <boundary(G)> -- <file>`` (through
   the working tree), parsed to current-version changed-line sets.

**Taint rule**: query q needs a fresh row iff
  - it has never been checked, or
  - some line it executes changed after its latest green, or
  - its oracle SQL drifted from the GREEN-ANCHORED baseline carried
    through the committed ledgers (what its newest driver row actually
    certified — sticky until a fresh green re-anchors it, so a drift
    cannot be laundered by re-running the ledger; catches plan-file
    constant edits that no call-time line executes, and oracle
    removal/downgrade to rows-only), or
  - its normalized-plan fingerprint drifted from that same baseline
    (catches import-time constant changes that flow into the plan
    without a source-line execution — fingerprints are unavailable for
    streaming gates, whose returned frame is the materialized sink
    table).

Queries whose FILES changed but whose executed lines / oracle /
fingerprint did not are reported in ``lines_clear`` — the
sibling-certification class, now verified per query instead of argued
per rotation comment.

Known limits (documented, bounded): def-time-only edits (decorators,
docstrings, comments) never taint — they cannot change call behavior;
a changed line that is executed only under data-dependent branches not
taken at sf0.001 is missed by the trace but still caught by the plan
fingerprint when it flows into the plan. Module-level constant edits —
invisible to the tracer (<module> frames excluded) and, when consumed
only inside UDF closures, to the fingerprint too — are caught by the
r10 module-binding fallback (``module_binding_taints``): an executed
file whose pre-existing module-level binding changed taints every
query that executes any of its function lines.

Run after the last engine edit, before the correctness gate, and commit
the result:

    python tools/taint_ledger.py          # rewrites TAINT_LEDGER.json

The trace session is always ``local[TRACE_CPUS]`` (32, the width every
committed ledger was traced at), whatever ``SPARK_GRAFT_CPUS`` says:
partition counts appear in the analyzed plan, so tracing at the host's
core count would make the fingerprint drift with the machine. The width
is recorded as ``trace_cpus``.

Exit 0 = the first ``CAP`` entries of ``cap_order`` cover EVERY
must-cover query (never-checked and tainted alike); a must-cover entry
below the cap — only possible when must-cover outgrows the cap — is a
problem. ``tests/test_taint_ledger.py`` validates the committed JSON
against the live registry so CI catches a stale ledger.
"""

from __future__ import annotations

import gc
import glob
import hashlib
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ENGINE_PREFIX = "osm_pbf_parquet_spark/"
SF_DIR = "/root/testdata/sf0.001"
CAP = 50
TRACE_CPUS = 32


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", REPO, *args], capture_output=True, text=True, check=True
    ).stdout


def round_boundaries() -> dict[int, str]:
    """round N -> the boundary commit that closes round N."""
    out: dict[int, str] = {}
    for line in _git("log", "--format=%H %s").splitlines():
        sha, _, subject = line.partition(" ")
        m = re.match(r"round (\d+): verdict/", subject)
        if m:
            out.setdefault(int(m.group(1)), sha)
    return out


def changed_lines_since(boundary: str, path: str) -> set[int]:
    """Current-version line numbers changed between ``boundary`` and the
    working tree. Pure deletions mark the two surviving neighbor lines
    (conservative: a deletion changes the behavior of the code around
    it)."""
    diff = _git("diff", "-U0", boundary, "--", path)
    lines: set[int] = set()
    for m in re.finditer(r"^@@ -\d+(?:,\d+)? \+(\d+)(?:,(\d+))? @@", diff, re.M):
        start = int(m.group(1))
        count = 1 if m.group(2) is None else int(m.group(2))
        if count == 0:
            lines.update({max(start, 1), start + 1})
        else:
            lines.update(range(start, start + count))
    return lines


# registry tables are exempt from module-binding taint (see
# module_binding_taints): a registry edit that changes WHICH callable a
# query name resolves to changes that query's plan fingerprint (drift-
# caught), and the full registry re-runs oracle parity in pytest every
# round — while the tables' literals are edited every single round to
# add gates, so including them would taint every sibling query in the
# file each round and mechanically exhaust the 50-slot cap.
_REGISTRY_NAME = re.compile(r"(^|_)QUERIES$")


def _binding_names(target) -> list[str]:
    import ast

    if isinstance(target, ast.Name):
        return [target.id]
    if isinstance(target, ast.Starred):
        return _binding_names(target.value)
    if isinstance(target, (ast.Tuple, ast.List)):
        out: list[str] = []
        for e in target.elts:
            out.extend(_binding_names(e))
        return out
    return []


def module_bindings(src: str) -> dict[str, str]:
    """name -> digest of the concatenated source of every MODULE-LEVEL
    statement that binds or mutates it: assignments (plain/annotated/
    augmented), per-alias imports, ``del``, and mutation calls on a
    bare name (``X.update(...)``/``X.append(...)``). Function/class
    bodies are excluded (their executed lines are traced); module-level
    compound statements (if/try/for/while/with) recurse, since their
    bodies run at import time too. Per-alias import digests mean adding
    one name to a ``from x import (...)`` list does not disturb the
    siblings' digests."""
    import ast

    try:
        tree = ast.parse(src)
    except SyntaxError:
        return {"<unparseable>": hashlib.sha256(src.encode()).hexdigest()}
    acc: dict[str, list[str]] = {}

    def add(name: str, source: str) -> None:
        acc.setdefault(name, []).append(source)

    def visit(stmts) -> None:
        for st in stmts:
            if isinstance(
                st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            seg = ast.get_source_segment(src, st) or ""
            if isinstance(st, ast.Assign):
                for t in st.targets:
                    for n in _binding_names(t):
                        add(n, seg)
            elif isinstance(st, (ast.AnnAssign, ast.AugAssign)):
                for n in _binding_names(st.target):
                    add(n, seg)
            elif isinstance(st, ast.Delete):
                for t in st.targets:
                    for n in _binding_names(t):
                        add(n, "del")
            elif isinstance(st, (ast.Import, ast.ImportFrom)):
                mod = getattr(st, "module", None) or ""
                for a in st.names:
                    bound = (a.asname or a.name).split(".")[0]
                    add(bound, f"import:{mod}:{a.name}:{a.asname}")
            elif (
                isinstance(st, ast.Expr)
                and isinstance(st.value, ast.Call)
                and isinstance(st.value.func, ast.Attribute)
                and isinstance(st.value.func.value, ast.Name)
            ):
                add(st.value.func.value.id, seg)
            elif isinstance(
                st, (ast.If, ast.Try, ast.For, ast.While, ast.With)
            ):
                for field in ("body", "orelse", "finalbody"):
                    visit(getattr(st, field, []) or [])
                for h in getattr(st, "handlers", []) or []:
                    visit(h.body)
    visit(tree.body)
    return {
        n: hashlib.sha256("\n".join(v).encode()).hexdigest()[:16]
        for n, v in acc.items()
    }


def module_binding_taints(green_src: str | None, cur_src: str) -> list[str]:
    """The module-level-constant blind spot closed (r10, r9 advice):
    the line tracer excludes ``<module>`` frames on purpose (import
    attribution depends on registry order), so an edit to a module-level
    constant consumed only inside a UDF/mapInPandas closure — invisible
    to both the plan fingerprint and the oracle text — could ship
    without re-certification. Fallback rule: a query executing ANY
    function line of a file is tainted when a module-level binding that
    EXISTED at its green baseline changed or vanished. Names new since
    the green cannot retroactively affect code that never referenced
    them, and registry tables are exempt (_REGISTRY_NAME — see above),
    so routine gate additions stay taint-free. DELETED names do not
    taint either: code that still references a deleted global raises
    NameError — at trace time for plan-path references, at the
    every-round full-registry parity run for closure-only ones — a loud
    crash, never a silent wrong answer, while taint-on-delete would
    retroactively flag every sibling of a long-certified rename
    migration (observed: the r8/r9 loader rename would have re-tainted
    40 queries in r10). Residual blind spot: class-attribute constants
    (class bodies are skipped; the engine keeps constants at module
    level) and ``globals()``-indirection."""
    if green_src is None:
        return []
    gb = module_bindings(green_src)
    cb = module_bindings(cur_src)
    if "<unparseable>" in cb or "<unparseable>" in gb:
        # r11 (advisor note): an unparseable CURRENT source previously
        # reported zero module-binding taints (every green name was
        # absent from cb's single sentinel key), silently disabling the
        # fallback for exactly the file most likely to be mid-edit.
        # Fail conservative instead: treat every green binding as
        # changed. (An unparseable file also fails import loudly at the
        # full-registry parity run, so this path marks work, not truth.)
        return sorted(
            n for n in gb
            if n != "<unparseable>" and not _REGISTRY_NAME.search(n)
        )
    return sorted(
        n
        for n, sha in gb.items()
        if not _REGISTRY_NAME.search(n) and n in cb and cb[n] != sha
    )


def green_history() -> dict[str, int]:
    """query -> latest round with a fully-green driver row."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        for q, row in json.load(open(path)).items():
            ok = (
                row.get("err") is None
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is not False
            )
            if ok:
                latest[q] = max(latest.get(q, 0), rnd)
    return latest


def _plan_fingerprint(df) -> str:
    """Cross-SESSION-stable fingerprint of the analyzed logical plan.
    ``DataFrame.semanticHash()`` is NOT stable across JVM restarts
    (verified: two fresh runs disagreed on all 165 queries — expression
    IDs are a session-global counter), so hash the analyzed plan STRING
    with expression ids CANONICALLY RENUMBERED in first-occurrence
    order (``#123L`` → ``#c0L``): identity and dtype suffix survive —
    a wrong-side join condition or an int→long source change still
    moves the fingerprint — while the session-global counter does not.
    Object addresses are the one other volatile token. Truncated plan
    strings are rejected loudly: Spark elides expression lists past
    ``spark.sql.debug.maxToStringFields``, which would freeze the
    fingerprint of everything in the elided tail (the tracing session
    raises the limit; this is the backstop)."""
    s = df._jdf.queryExecution().analyzed().toString()
    if "more fields" in s:
        raise RuntimeError(
            "plan string truncated — raise spark.sql.debug.maxToStringFields"
        )
    seen: dict[str, str] = {}

    def canon(m: re.Match) -> str:
        eid = m.group(1)
        if eid not in seen:
            seen[eid] = f"c{len(seen)}"
        return "#" + seen[eid]

    s = re.sub(r"#(\d+)", canon, s)
    s = re.sub(r"0x[0-9a-fA-F]+", "0x", s)
    # PySpark names Python-side HOF lambda variables with a
    # PROCESS-GLOBAL counter (`lambda x_1` on the first build, `x_4` on
    # the next — verified within one session), so un-canonicalized
    # names make the fingerprint depend on how many lambda-bearing
    # plans were built earlier in the session, i.e. on REGISTRY ORDER.
    # Strip the counter; identity stays distinguishable through the
    # canonical exprId suffix (`lambda x_#c8`). SQL-string lambdas
    # (`j -> ...`) carry their source names and are already stable.
    s = re.sub(r"(lambda [A-Za-z]+)_\d+", r"\1_", s)
    return "plan:" + hashlib.sha256(s.encode()).hexdigest()[:16]


def trace_queries(queries) -> tuple[dict[str, dict[str, set[int]]], dict[str, str]]:
    """query -> {engine file -> executed line numbers}, plus the plan
    fingerprint (Catalyst semantic hash) where obtainable."""
    from osm_pbf_parquet_spark.session import get_spark

    spark = get_spark()
    # plan toString elides expression lists past this limit (default
    # 25), which would freeze the fingerprint of wide Project/Aggregate
    # tails; _plan_fingerprint raises if truncation still slips through
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    root = os.path.join(REPO, ENGINE_PREFIX)
    executed: dict[str, dict[str, set[int]]] = {}
    fingerprints: dict[str, str] = {}
    for name, fn in queries.items():
        touched: dict[str, set[int]] = {}

        def line_tracer(frame, event, arg):
            if event == "line":
                f = frame.f_code.co_filename
                touched.setdefault(f, set()).add(frame.f_lineno)
            return line_tracer

        def call_tracer(frame, event, arg):
            # trace only engine frames: everything else returns None so
            # the interpreter skips line events outside the package.
            # Module-level frames are EXCLUDED: a lazily-imported
            # engine module executes its def/constant lines under
            # whichever query happens to import it first, so with them
            # included, attribution depends on registry ORDER and
            # def-time-only edits (which the tool's contract says never
            # taint — they cannot change call behavior) taint whatever
            # query won the import race. Import-time constants that
            # flow into plans stay covered by the fingerprint/oracle
            # drift checks, and ones that don't (closure-only
            # consumption) by the module-binding fallback
            # (module_binding_taints, r10).
            if (
                event == "call"
                and frame.f_code.co_filename.startswith(root)
                and frame.f_code.co_name != "<module>"
            ):
                return line_tracer
            return None

        sys.settrace(call_tracer)
        try:
            df = fn(spark, SF_DIR)
        finally:
            sys.settrace(None)
        try:
            fingerprints[name] = _plan_fingerprint(df)
        except Exception:
            pass  # streaming sink tables: no stable plan fingerprint
        # Drain this query's own PersistSet finalizers INSIDE its trace
        # attribution: tie_release's weakref.finalize fires when the
        # result frame is dropped, so leaving `df` bound until the next
        # iteration's `df = fn(...)` rebind would execute the release
        # lines (caching.py) under the NEXT query's tracer — observed as
        # a phantom caching-release taint on whichever query happens to
        # follow a PersistSet owner in registry order.
        sys.settrace(call_tracer)
        try:
            del df
            gc.collect()
        finally:
            sys.settrace(None)
        # executed[name] is built only AFTER the drain so attribution
        # does not depend on the dict-comprehension aliasing `touched`'s
        # set objects — a file first touched during the drain (release
        # lines in a module the build phase never entered) would
        # otherwise be silently dropped, and the aliasing is fragile to
        # refactors (a deepcopy would break it invisibly).
        executed[name] = {
            ENGINE_PREFIX + os.path.relpath(f, root): lines
            for f, lines in touched.items()
        }
        print(
            f"  traced {name}: {sum(map(len, touched.values()))} lines "
            f"in {len(touched)} files",
            file=sys.stderr,
        )
    return executed, fingerprints


def _previous_ledger(current_round: int) -> dict | None:
    """The newest COMMITTED ledger from an earlier round — the drift
    baseline. Read from git history, not the working file: the tool
    overwrites TAINT_LEDGER.json on every run, so a second run in the
    same round would otherwise read its own output (current_round not
    < current) and silently disengage drift detection."""
    try:
        shas = _git("log", "--format=%H", "--", "TAINT_LEDGER.json").split()
    except Exception:
        return None
    for sha in shas:
        try:
            led = json.loads(_git("show", f"{sha}:TAINT_LEDGER.json"))
        except Exception:
            continue
        if led.get("current_round", current_round) < current_round:
            return led
    return None


def green_baseline(
    prev_row: dict | None,
    last_green: int | None,
    prev_round: int,
    cur_sha: str | None,
    cur_fp: str | None,
) -> tuple[str | None, str | None]:
    """The (oracle_sha, fingerprint) baseline ANCHORED AT THE QUERY'S
    LAST GREEN — what its newest driver row actually certified.

    A green at/after the previous ledger's round certified the values
    that ledger recorded as CURRENT (the ledger runs after the round's
    last engine edit, the gate runs on the same tree). Without such a
    green the previous BASELINE carries forward unchanged — sticky, so
    a drift cannot be laundered by merely re-running the ledger: it
    stays flagged until a fresh green re-anchors it. Bootstrap (query
    absent from the previous ledger) anchors at the current values —
    the pre-first-ledger blind window is covered by that round's cap
    discipline, not by drift."""
    if prev_row is None:
        return cur_sha, cur_fp
    if last_green is not None and last_green >= prev_round:
        return prev_row.get("oracle_sha"), prev_row.get("fingerprint")
    return (
        prev_row.get("baseline_oracle_sha", prev_row.get("oracle_sha")),
        prev_row.get("baseline_fingerprint", prev_row.get("fingerprint")),
    )


def cap_key(row: dict) -> tuple:
    """Sort key of ``cap_order``: never-checked, then tainted, then the
    oldest last green first."""
    return (
        not row["never_checked"],
        not row["tainted"],
        row["last_green_round"] or 0,
    )


def build_ledger() -> dict:
    import __spark_entry__ as entry
    from osm_pbf_parquet_spark.session import get_spark

    width = get_spark().sparkContext.defaultParallelism
    if width != TRACE_CPUS:
        raise RuntimeError(
            f"trace session runs {width} cores, the ledger is traced at "
            f"{TRACE_CPUS}: plan fingerprints would drift with the width"
        )
    registry = entry._declared()
    queries = {name: fn for name, (fn, _oracle) in registry.items()}
    oracles = {
        name: oracle
        for name, (_fn, oracle) in registry.items()
        if oracle is not None
    }
    order = list(queries)
    bounds = round_boundaries()
    current_round = max(bounds) + 1
    greens = green_history()
    executed, fingerprints = trace_queries(queries)

    previous = _previous_ledger(current_round)

    # changed-line sets are per (green round, file): cache across queries
    _changed: dict[tuple[int, str], set[int]] = {}

    def changed(g: int, path: str) -> set[int]:
        if g not in bounds:
            # the green's boundary commit doesn't exist yet (driver
            # wrote CORRECTNESS_r{g}.json mid-round). The tree that
            # green certified is unknowable from git, so OVER-taint:
            # diff from the newest boundary BEFORE g — edits made
            # after the driver run are then visible, at the cost of
            # also counting pre-run same-round edits the green already
            # covered. (Returning the empty set here would hide
            # post-run edits entirely — the unverified-edit class the
            # tool exists to catch.)
            prior = [r for r in bounds if r < g]
            if not prior:
                return set(range(1, 10**6))  # no baseline: all tainted
            g = max(prior)
        key = (g, path)
        if key not in _changed:
            _changed[key] = changed_lines_since(bounds[g], path)
        return _changed[key]

    # module-binding taint (the <module>-frame blind-spot fallback) is
    # per (green round, file) too
    _bindings: dict[tuple[int, str], list[str]] = {}

    def binding_taints(g: int, path: str) -> list[str]:
        if g not in bounds:
            prior = [r for r in bounds if r < g]
            if not prior:
                return ["<no-baseline>"]
            g = max(prior)
        key = (g, path)
        if key not in _bindings:
            try:
                green_src = _git("show", f"{bounds[g]}:{path}")
            except subprocess.CalledProcessError:
                green_src = None  # file new since the green: line/
                # fingerprint taint owns that case
            cur = os.path.join(REPO, path)
            cur_src = open(cur).read() if os.path.exists(cur) else ""
            _bindings[key] = module_binding_taints(green_src, cur_src)
        return _bindings[key]

    per_query: dict[str, dict] = {}
    for q in order:
        g = greens.get(q)
        oracle_sha = (
            hashlib.sha256(oracles[q].encode()).hexdigest()[:16]
            if q in oracles
            else None
        )
        row = {
            "last_green_round": g,
            "files": sorted(executed[q]),
            "never_checked": g is None,
            "line_tainted_by": {},
            "files_changed_lines_clear": [],
            "oracle_sha": oracle_sha,
            "oracle_drift": False,
            "fingerprint": fingerprints.get(q),
            "fingerprint_drift": False,
        }
        row["module_binding_tainted"] = {}
        if g is not None:
            for path, lines in executed[q].items():
                hit = changed(g, path) & lines
                if hit:
                    row["line_tainted_by"][path] = sorted(hit)[:20]
                elif changed(g, path):
                    row["files_changed_lines_clear"].append(path)
                mb = binding_taints(g, path)
                if mb:
                    row["module_binding_tainted"][path] = mb
        if previous is not None:
            base_sha, base_fp = green_baseline(
                previous.get("per_query", {}).get(q),
                g,
                previous["current_round"],
                oracle_sha,
                row["fingerprint"],
            )
        else:
            base_sha, base_fp = oracle_sha, row["fingerprint"]
        row["baseline_oracle_sha"] = base_sha
        row["baseline_fingerprint"] = base_fp
        # None is significant on either side: removing a query's oracle
        # (hash-checked → rows-only) or losing its fingerprint is a
        # verification-strength change that needs a fresh row too
        row["oracle_drift"] = base_sha != oracle_sha
        row["fingerprint_drift"] = base_fp != row["fingerprint"]
        row["tainted"] = bool(
            row["line_tainted_by"]
            or row["module_binding_tainted"]
            or row["oracle_drift"]
            or row["fingerprint_drift"]
        )
        per_query[q] = row

    cap_order = sorted(order, key=lambda q: cap_key(per_query[q]))
    cap_names = set(cap_order[:CAP])
    for q in order:
        per_query[q]["in_cap"] = q in cap_names
    never = [q for q in order if per_query[q]["never_checked"]]
    tainted = [
        q for q in order if per_query[q]["tainted"] and not per_query[q]["never_checked"]
    ]
    must_cover = never + tainted
    displaced = [q for q in must_cover if q not in cap_names]
    lines_clear = [
        q
        for q in order
        if per_query[q]["files_changed_lines_clear"]
        and not per_query[q]["tainted"]
        and not per_query[q]["never_checked"]
    ]

    problems = []
    for q in never:
        if q not in cap_names:
            problems.append(f"never-checked query below the cap: {q}")
    # ANY must-cover entry below the cap is a problem — when must-cover
    # exceeds the cap there is no acceptable displacement class (every
    # must-cover entry is never-checked or line-tainted by definition);
    # the only fix is shrinking the taint set or splitting the round
    displaced_tainted = [q for q in displaced if q not in never]
    if displaced_tainted:
        problems.append(
            f"line-tainted queries below the driver cap "
            f"({len(must_cover)} must-cover vs cap {CAP}): "
            f"{displaced_tainted}"
        )

    return {
        "current_round": current_round,
        "cap": CAP,
        "trace_cpus": TRACE_CPUS,
        "registry_size": len(order),
        "never_checked": never,
        "line_tainted": tainted,
        "must_cover": must_cover,
        "displaced": displaced,
        "lines_clear": lines_clear,
        "problems": problems,
        "cap_order": cap_order,
        "per_query": per_query,
    }


def main() -> int:
    # set before the first engine import: session.py reads it then
    os.environ["SPARK_GRAFT_CPUS"] = str(TRACE_CPUS)
    ledger = build_ledger()
    out = os.path.join(REPO, "TAINT_LEDGER.json")
    with open(out, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=False)
    print(
        f"round r{ledger['current_round']}: registry "
        f"{ledger['registry_size']}, never-checked "
        f"{len(ledger['never_checked'])}, line-tainted "
        f"{len(ledger['line_tainted'])}, must-cover "
        f"{len(ledger['must_cover'])}, displaced "
        f"{len(ledger['displaced'])}, lines-clear "
        f"{len(ledger['lines_clear'])}"
    )
    for q in ledger["must_cover"]:
        why = (
            "never checked"
            if ledger["per_query"][q]["never_checked"]
            else f"lines {ledger['per_query'][q]['line_tainted_by']}"
        )
        mark = "IN-CAP " if ledger["per_query"][q]["in_cap"] else "DISPLACED"
        print(f"  {mark} {q}: {why}")
    for p in ledger["problems"]:
        print(f"  PROBLEM: {p}")
    return 1 if ledger["problems"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
