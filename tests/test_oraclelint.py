"""Round-8 oracle-determinism hardening: the CTE scanner, the at-risk
rule, and the exact-span materializer that closes the round-7
double-evaluation flake class (docs/ROUND7_NOTES.md)."""

from __future__ import annotations

import duckdb

from beam_scala_examples_spark.queries import ORACLE, ORACLE_RAW
from beam_scala_examples_spark.queries.oraclelint import (
    at_risk_ctes,
    harden_oracles,
    load_materialize_lists,
    materialize,
    parse_ctes,
)

_SQL = """
    WITH rg AS (
        SELECT a, row_number() OVER (ORDER BY a) AS rn FROM t
    ),
    plain AS (SELECT 1 AS one),
    u AS (
        SELECT a FROM x UNION ALL SELECT a FROM y
    )
    SELECT a, rn FROM rg JOIN u USING (a)
    UNION ALL
    SELECT a, rn FROM rg JOIN plain ON plain.one = 1
"""


def test_parse_ctes_spans_and_flags():
    ctes, main_start = parse_ctes(_SQL)
    assert [c.name for c in ctes] == ["rg", "plain", "u"]
    assert not any(c.materialized for c in ctes)
    # spans are exact: each body starts at '(' and ends just past ')'
    for c in ctes:
        assert _SQL[c.body_start] == "("
        assert _SQL[c.body_end - 1] == ")"
    assert _SQL[main_start:].lstrip().startswith("SELECT")
    # statements without a leading WITH parse as no CTEs
    assert parse_ctes("SELECT 1") == ([], 0)
    # quotes and comments don't confuse the paren scanner
    tricky = (
        "WITH a AS (SELECT '(' AS p, ')''(' AS q -- ) comment\n"
        ", 1 AS r) SELECT a.r FROM a, a AS b"
    )
    ctes, _ = parse_ctes(tricky)
    assert [c.name for c in ctes] == ["a"]
    # optional column list (the recursive-CC oracle shape)
    rec = (
        "WITH RECURSIVE reach (node, root) AS ("
        "SELECT node, node FROM v UNION ALL "
        "SELECT e.dst, r.root FROM reach r JOIN e ON e.src = r.node)"
        " SELECT * FROM reach"
    )
    ctes, _ = parse_ctes(rec)
    assert [c.name for c in ctes] == ["reach"]


def test_at_risk_rule():
    # rg: windowed + referenced twice -> at risk; u: UNION body but
    # referenced once -> safe; plain: multi-use but riskless body
    assert at_risk_ctes(_SQL) == ["rg"]
    # already-materialized CTEs are never re-flagged
    assert at_risk_ctes(materialize(_SQL, ["rg"])) == []


def test_materialize_inserts_at_definition_only():
    out = materialize(_SQL, ["rg"])
    assert "rg AS MATERIALIZED (" in out.replace("\n", " ").replace(
        "  ", " "
    ).replace("  ", " ") or "rg AS (" not in out
    # the two CONSUMING references are untouched
    assert out.count("MATERIALIZED") == 1
    # absent names are skipped silently
    assert materialize(_SQL, ["nope"]) == _SQL
    # idempotent
    assert materialize(out, ["rg"]) == out


def test_materialized_sql_equivalent_in_duckdb():
    con = duckdb.connect()
    con.sql("CREATE TABLE t AS SELECT range AS a FROM range(5)")
    con.sql("CREATE TABLE x AS SELECT range AS a FROM range(3)")
    con.sql("CREATE TABLE y AS SELECT range + 2 AS a FROM range(3)")
    base = sorted(con.sql(_SQL).fetchall())
    hard = sorted(con.sql(materialize(_SQL, ["rg"])).fetchall())
    assert base == hard and len(base) > 0


def test_committed_lists_apply_cleanly():
    """Registry invariant: every committed materialization entry names
    a present, unmaterialized CTE of the RAW oracle, and the hardened
    registry differs from RAW exactly on the listed oracles."""
    from beam_scala_examples_spark.queries.oraclelint import (
        all_unmaterialized_cte_names,
    )

    lists = load_materialize_lists()
    assert lists, "oracle_materialize.json missing or empty"
    for name, names in lists.items():
        assert name in ORACLE_RAW, name
        have = all_unmaterialized_cte_names(ORACLE_RAW[name])
        assert set(names) <= have, (name, names)
        assert ORACLE[name] != ORACLE_RAW[name]
        assert ORACLE[name].count("MATERIALIZED") >= len(names)
    unchanged = set(ORACLE) - set(lists)
    assert all(ORACLE[n] == ORACLE_RAW[n] for n in unchanged)
    # and the hardened registry is exactly harden_oracles(RAW)
    assert ORACLE == harden_oracles(ORACLE_RAW)


def test_every_at_risk_cte_is_hardened_or_documented():
    """Registry invariant going forward: any oracle whose RAW SQL
    carries an at-risk CTE (the round-7 flake shape) must either have
    it in the committed execution-verified materialization list or in
    the documented VERIFY_REJECTED residuals — a new oracle with an
    unhandled at-risk CTE fails here until it is run through
    tools/oracle_stability.py --emit."""
    from beam_scala_examples_spark.queries.oraclelint import (
        VERIFY_REJECTED,
        at_risk_ctes,
    )

    lists = load_materialize_lists()
    missing = {}
    for name, sql in ORACLE_RAW.items():
        risk = set(at_risk_ctes(sql))
        handled = set(lists.get(name, [])) | set(
            VERIFY_REJECTED.get(name, [])
        )
        if risk - handled:
            missing[name] = sorted(risk - handled)
    assert not missing, missing


def test_shadowed_nested_with_does_not_count_as_reference():
    """Round-8 scanner fix: a nested WITH that re-defines an outer
    CTE's name shadows it — occurrences inside that subquery are not
    references to the outer CTE.  (The real case: `fb` in
    sim_prf_probe_sweep is referenced once, but `truth` embeds the
    sim_prf_expand oracle which defines its own `fb`.)"""
    from beam_scala_examples_spark.queries.oraclelint import at_risk_ctes

    sql = """
        WITH fb AS (
            SELECT a, row_number() OVER (ORDER BY a) AS r FROM t
        ),
        uses AS (SELECT * FROM fb),
        embedded AS (
            SELECT * FROM (
                WITH fb AS (
                    SELECT b, row_number() OVER (ORDER BY b) AS r FROM u
                )
                SELECT * FROM fb
            )
        )
        SELECT * FROM uses JOIN embedded USING (a)
    """
    # outer fb: one true reference (uses); the occurrences in `embedded`
    # are the shadowing inner fb's definition and single reference
    assert "fb" not in at_risk_ctes(sql)
    # a genuinely multi-referenced windowed CTE is still flagged
    sql2 = sql.replace("JOIN embedded USING (a)",
                       "JOIN embedded USING (a) JOIN fb f3 USING (a)")
    assert "fb" in at_risk_ctes(sql2)


def test_transitive_risk_over_cte_chain():
    """Round-9 rule: a multi-referenced CTE whose OWN body is riskless
    but which references a windowed ancestor is exactly as
    double-evaluable as the ancestor (DuckDB inlines plain CTE chains
    — round 8's live flake shape)."""
    sql = """
        WITH w AS (
            SELECT a, row_number() OVER (ORDER BY a) AS rn FROM t
        ),
        plain AS (SELECT a, rn + 1 AS rp FROM w),
        leaf AS (SELECT a FROM u)
        SELECT * FROM plain p1 JOIN plain p2 USING (a) JOIN leaf USING (a)
    """
    # plain: riskless body, risky ancestor, referenced twice -> flagged;
    # w: windowed but single-referenced (only by plain) -> safe;
    # leaf: no risk anywhere -> safe
    assert at_risk_ctes(sql) == ["plain"]
    # materializing the ANCESTOR cuts the transitive edge: plain's
    # expansion then evaluates the window once regardless
    hardened = materialize(sql, ["w"])
    assert at_risk_ctes(hardened) == []


def test_named_window_counts_as_risk():
    """`WINDOW w AS (...)` + `OVER w` (the winnow chain's `brk`) is a
    window even without `OVER (`."""
    sql = """
        WITH b AS (
            SELECT a, lag(a) OVER w AS pa FROM t
            WINDOW w AS (PARTITION BY g ORDER BY a)
        )
        SELECT * FROM b x JOIN b y USING (a)
    """
    assert at_risk_ctes(sql) == ["b"]


def test_nested_scope_ctes_are_audited():
    """Round-9 rule: the house composition idiom embeds whole oracles
    as `x AS ( WITH ... SELECT ... )` — multi-referenced windowed CTEs
    INSIDE that nested scope must be flagged and materializable (round
    8's flake: `iv` inside text_winnow_coverage_by_source's `cov`)."""
    sql = """
        WITH cov AS (
            WITH iv AS (
                SELECT g, sum(a) OVER (PARTITION BY g ORDER BY a) AS s
                FROM t
            ),
            top AS (SELECT g, max(s) AS m FROM iv GROUP BY g)
            SELECT iv.g, iv.s, m FROM iv JOIN top USING (g)
        )
        SELECT * FROM cov
    """
    # outer cov: single-referenced -> safe; nested iv: windowed +
    # referenced twice within its scope (top's body + main query)
    assert at_risk_ctes(sql) == ["iv"]
    hardened = materialize(sql, ["iv"])
    assert "MATERIALIZED" in hardened
    assert at_risk_ctes(hardened) == []
    # the nested definition got the keyword, not a reference site
    assert hardened.count("MATERIALIZED") == 1
    from beam_scala_examples_spark.queries.oraclelint import (
        all_unmaterialized_cte_names,
    )
    assert all_unmaterialized_cte_names(sql) == {"cov", "iv", "top"}


def test_nested_materialized_sql_equivalent_in_duckdb():
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE t AS SELECT range % 3 AS g, range AS a FROM range(12)"
    )
    sql = """
        WITH cov AS (
            WITH iv AS (
                SELECT g, sum(a) OVER (PARTITION BY g ORDER BY a) AS s
                FROM t
            ),
            top AS (SELECT g, max(s) AS m FROM iv GROUP BY g)
            SELECT iv.g, iv.s, top.m FROM iv JOIN top USING (g)
        )
        SELECT * FROM cov
    """
    base = sorted(con.sql(sql).fetchall())
    hard = sorted(con.sql(materialize(sql, ["iv"])).fetchall())
    assert base == hard and len(base) == 12


def test_flake_ledger_demands_fixes():
    """Round-10 ADVICE: adjudicated oracle flakes are a hard artifact.
    Every fresh-connection re-adjudication appends to the committed
    ledger; if the SAME oracle ever accumulates two or more entries, the
    suite fails here until the oracle gets a materialization fix (and
    the ledger entries are retired alongside it).  Allowlist entries
    require an inline justification below."""
    import json

    from tests.oracle_harness import FLAKE_LEDGER

    # name -> reason; empty means no oracle is currently allowed to be
    # repeatedly flaky.
    allowlist: dict = {}

    counts: dict = {}
    try:
        with open(FLAKE_LEDGER) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                rec = json.loads(line)
                # round-11: keyed (oracle, scale) like the in-process
                # budget — one flake at each SF is two independent
                # events, not a repeat offender (legacy lines without a
                # scale field group under "").
                key = (rec["oracle"], rec.get("scale", ""))
                counts[key] = counts.get(key, 0) + 1
    except FileNotFoundError:
        return
    repeat = {
        n: c for n, c in counts.items() if c >= 2 and n not in allowlist
    }
    assert not repeat, (
        f"oracles adjudicated repeatedly across runs: {repeat} — "
        "materialize the offending CTE (tools/oracle_stability.py --emit) "
        "instead of re-adjudicating, then retire the ledger entries"
    )


def test_events_sessions_oracle_is_tie_stable():
    """Each user's second session opens with two events at the same ts.
    The oracle's ``lag`` and its running session count must both order
    by (ts, event_id); ordered by ts alone, DuckDB's parallel sort may
    count the tied row before the session break and split off a
    one-event session, differently from one evaluation to the next
    (it takes this many users for the sort to run in parallel)."""
    users = 100_000
    con = duckdb.connect()
    con.sql(f"""
        CREATE TABLE events AS
        SELECT 3 * u + k AS event_id,
               TIMESTAMP '2024-01-02 00:00:00'
                   + INTERVAL (CASE WHEN k = 1 THEN 0 ELSE 40 END) MINUTE
                   AS ts,
               u AS user_id, 'click' AS event_type, 1.0 AS value
        FROM range({users}) r(u), range(1, 4) s(k)
    """)
    t0 = 1_704_153_600_000_000  # 2024-01-02 00:00:00 in epoch us
    want = sorted(
        [(u, t0, 1, 0) for u in range(users)]
        + [(u, t0 + 40 * 60_000_000, 2, 0) for u in range(users)]
    )
    for _ in range(3):
        assert sorted(con.sql(ORACLE["events_sessions"]).fetchall()) == want
    con.close()
