"""SQL-text DML front-end: ``MERGE INTO`` / ``UPDATE`` / ``DELETE FROM``.

Reference parity: the reference's stack
exposes row-level DML as SQL *text* on its Iceberg tables — Spark
sessions are built with ``IcebergSparkSessionExtensions`` wired in at
`/root/reference/scripts/extract_load.py:31` precisely so ``MERGE``
/ ``UPDATE`` / ``DELETE`` statements parse, and Trino DML rides
`config/iceberg-template.properties:1-5`. The repo has had the
*semantics* certified at API level (`SnapshotTable.merge`,
`delete_where`, `overwrite_where` — a13/a19/a20/a35/a36), but a user
migrating off the reference writes statement text, not API calls.
This module is that route: a deliberately thin parser for the three
statement shapes the reference's engines expose, routing to the
already-certified snapshot ops. Everything else is a LOUD
``ValueError`` naming the supported surface — a silently-misparsed
DML statement corrupts tables, so the grammar refuses anything it
does not fully understand.

Design notes:

- **Expressions are delegated to Spark.** Predicates and assignment
  right-hand sides are parsed by Catalyst via ``F.expr`` — this
  front-end only finds the statement's *clause* boundaries (top-level
  keyword scan that respects string literals, quoted identifiers and
  parenthesis depth). No hand-rolled expression grammar to drift from
  SQL semantics.
- **UPDATE is one atomic commit** via ``overwrite_where`` with
  ``validate=False``: the replace region is the predicate's TRUE set,
  the incoming rows are that region with assignments applied — an
  UPDATE may legitimately move a row OUT of the region (``SET x = -x
  WHERE x < 0``), which is exactly what the replaceWhere validation
  exists to reject for backfills, so it is off for this op.
- **Standard SQL assignment semantics**: every RHS is evaluated
  against the OLD row (``withColumns`` is simultaneous, so
  ``SET a = b, b = a`` swaps), and each RHS is cast to the target
  column's existing type (SQL assignment coercion; an incompatible
  cast fails loudly in Catalyst rather than silently evolving the
  schema).
- **NULL predicate rows survive** UPDATE and DELETE untouched — the
  same IS-TRUE region rule `delete_where`/`overwrite_where` already
  implement (Delta/Iceberg semantics).

Scale shape: identical to the API twins — this layer adds zero jobs
beyond the routed op (MERGE: the merge_plan joins; UPDATE: one
filtered rewrite commit; DELETE: CoW rewrite or MoR delete file).
Parsing is O(statement length) on the driver.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table as T
from ..sources.snapshot import SnapshotTable

from ..workspace import scratch
from .common import make_registry

QUERIES, ORACLES, query = make_registry()


# ---------------------------------------------------------------------------
# top-level clause scanning (string-literal / identifier / paren aware)
# ---------------------------------------------------------------------------

def _top_level_matches(s: str, pattern: str) -> list[tuple[int, int]]:
    """(start, end) spans of ``pattern`` occurrences at paren depth 0,
    outside single-quoted strings ('' escape) and double-quoted
    identifiers. Case-insensitive."""
    rx = re.compile(pattern, re.IGNORECASE)
    out: list[tuple[int, int]] = []
    depth, i, n = 0, 0, len(s)
    while i < n:
        c = s[i]
        if c == "'":
            i += 1
            while i < n:
                if s[i] == "'":
                    if i + 1 < n and s[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
            if i >= n:
                raise ValueError("unterminated string literal in DML text")
            i += 1
            continue
        if c == '"':
            j = s.find('"', i + 1)
            if j < 0:
                raise ValueError("unterminated quoted identifier in DML text")
            i = j + 1
            continue
        if c == "(":
            depth += 1
            i += 1
            continue
        if c == ")":
            depth -= 1
            if depth < 0:
                raise ValueError("unbalanced ')' in DML text")
            i += 1
            continue
        if depth == 0:
            m = rx.match(s, i)
            if m and m.end() > i:
                out.append((i, m.end()))
                i = m.end()
                continue
        i += 1
    if depth != 0:
        raise ValueError("unbalanced '(' in DML text")
    return out


def _split_top(s: str, pattern: str) -> list[str]:
    """Split ``s`` on every top-level occurrence of ``pattern``."""
    spans = _top_level_matches(s, pattern)
    parts, prev = [], 0
    for a, b in spans:
        parts.append(s[prev:a])
        prev = b
    parts.append(s[prev:])
    return parts


def _ident(tok: str, what: str) -> str:
    tok = tok.strip()
    m = re.fullmatch(r'[A-Za-z_][A-Za-z_0-9]*|"[^"]+"', tok)
    if not m:
        raise ValueError(f"expected {what} identifier, got {tok!r}")
    return tok.strip('"')


def _name_and_alias(clause: str, what: str) -> tuple[str, str | None]:
    """``name``, ``name alias`` or ``name AS alias``."""
    toks = clause.split()
    if not toks:
        raise ValueError(f"missing {what} name")
    name = _ident(toks[0], what)
    rest = [t for t in toks[1:]]
    if rest and rest[0].upper() == "AS":
        rest = rest[1:]
        if not rest:
            raise ValueError(f"dangling AS after {what} {name!r}")
    if len(rest) > 1:
        raise ValueError(f"unparsed tokens after {what} {name!r}: {rest!r}")
    alias = _ident(rest[0], f"{what} alias") if rest else None
    return name, alias


class DmlSession:
    """Statement-text DML router over registered snapshot tables.

    ``bind_table`` binds a SQL name to a ``SnapshotTable``;
    ``bind_source`` binds a name to a DataFrame (and exposes it as
    a temp view so a parenthesized ``USING (SELECT ...)`` subquery can
    reference it). ``sql(text)`` parses ONE statement and routes it to
    the certified table op, returning that op's commit entry."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._dml_targets: dict[str, SnapshotTable] = {}
        self._sources: dict[str, DataFrame] = {}

    def bind_table(self, name: str, table: SnapshotTable) -> None:
        self._dml_targets[name] = table

    def bind_source(self, name: str, df: DataFrame) -> None:
        self._sources[name] = df
        df.createOrReplaceTempView(name)

    # -- dispatch ----------------------------------------------------------

    def sql(self, text: str) -> dict:
        stmt = text.strip()
        if stmt.endswith(";"):
            stmt = stmt[:-1].rstrip()
        if _top_level_matches(stmt, r";"):
            raise ValueError("one DML statement at a time (embedded ';')")
        head = stmt.split(None, 1)[0].upper() if stmt else ""
        if head == "MERGE":
            return self._run_merge(stmt)
        if head == "UPDATE":
            return self._run_update(stmt)
        if head == "DELETE":
            return self._run_delete(stmt)
        if head == "INSERT":
            return self._run_insert(stmt)
        raise ValueError(
            f"unsupported statement {head!r}: this DML front-end routes "
            "MERGE INTO / UPDATE ... SET / DELETE FROM / INSERT "
            "INTO|OVERWRITE only (reads go through the DataFrame/SQL "
            "surface, not here)"
        )

    def _dml_target(self, name: str) -> SnapshotTable:
        if name not in self._dml_targets:
            raise ValueError(
                f"unknown DML target {name!r} "
                f"(registered: {sorted(self._dml_targets)})"
            )
        return self._dml_targets[name]

    # -- MERGE INTO --------------------------------------------------------

    def _run_merge(self, stmt: str) -> dict:
        m = re.match(r"MERGE\s+INTO\b", stmt, re.IGNORECASE)
        if not m:
            raise ValueError("MERGE must start with MERGE INTO")
        using = _top_level_matches(stmt, r"\bUSING\b")
        if len(using) != 1:
            raise ValueError("MERGE needs exactly one top-level USING")
        ons = [p for p in _top_level_matches(stmt, r"\bON\b")
               if p[0] > using[0][1]]
        if not ons:
            raise ValueError("MERGE needs an ON clause after USING")
        whens = _top_level_matches(stmt, r"\bWHEN\b")
        if not whens:
            raise ValueError("MERGE needs at least one WHEN clause")
        on_a, on_b = ons[0]
        if on_a < using[0][0] or whens[0][0] < on_b:
            raise ValueError("MERGE clause order must be USING ... ON ... WHEN")

        tgt_name, tgt_alias = _name_and_alias(
            stmt[m.end():using[0][0]], "merge target"
        )
        src_clause = stmt[using[0][1]:on_a].strip()
        cond = stmt[on_b:whens[0][0]].strip()
        table = self._dml_target(tgt_name)
        source = self._resolve_source(src_clause)

        when_matched, when_not_matched = self._parse_when_clauses(stmt, whens)
        keys = self._parse_merge_keys(
            cond, tgt_name, tgt_alias, src_clause, source
        )
        tgt_cols = [f.name for f in table.schema().fields]
        if set(source.columns) != set(tgt_cols):
            raise ValueError(
                "MERGE ... SET * / INSERT * needs the source columns to "
                f"equal the target's: source {sorted(source.columns)} vs "
                f"target {sorted(tgt_cols)}"
            )
        return table.merge(
            source.select(tgt_cols),
            on=keys,
            when_matched=when_matched,
            when_not_matched=when_not_matched,
        )

    def _resolve_source(self, clause: str) -> DataFrame:
        """USING <registered-name> [AS a] or USING (subquery) [AS a]."""
        clause = clause.strip()
        if clause.startswith("("):
            depth = 0
            end = -1
            for i, c in enumerate(clause):
                if c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                    if depth == 0:
                        end = i
                        break
            if end < 0:
                raise ValueError("unbalanced USING (subquery)")
            inner = clause[1:end]
            rest = clause[end + 1:].strip()
            if rest:
                toks = rest.split()
                if toks[0].upper() == "AS":
                    toks = toks[1:]
                if len(toks) != 1:
                    raise ValueError(
                        f"unparsed tokens after USING subquery: {rest!r}"
                    )
                _ident(toks[0], "source alias")
            return self.spark.sql(inner)
        name, _alias = _name_and_alias(clause, "merge source")
        if name not in self._sources:
            raise ValueError(
                f"unknown merge source {name!r} "
                f"(registered: {sorted(self._sources)})"
            )
        return self._sources[name]

    @staticmethod
    def _parse_when_clauses(stmt: str, whens) -> tuple[str, str]:
        """Map the WHEN clause texts onto merge_plan's (when_matched,
        when_not_matched). Only the reference-exposed shapes parse:
        UPDATE SET * / DELETE / INSERT *; conditional WHENs and
        column-list forms are loud."""
        matched: str | None = None
        not_matched: str | None = None
        for i, (a, _b) in enumerate(whens):
            end = whens[i + 1][0] if i + 1 < len(whens) else len(stmt)
            clause = " ".join(stmt[a:end].split())
            cu = clause.upper()
            if cu == "WHEN MATCHED THEN UPDATE SET *":
                action = ("matched", "update")
            elif cu == "WHEN MATCHED THEN DELETE":
                action = ("matched", "delete")
            elif cu == "WHEN NOT MATCHED THEN INSERT *":
                action = ("not_matched", "insert")
            else:
                raise ValueError(
                    f"unsupported MERGE clause {clause!r}: supported are "
                    "WHEN MATCHED THEN UPDATE SET * | WHEN MATCHED THEN "
                    "DELETE | WHEN NOT MATCHED THEN INSERT * (conditional "
                    "WHEN ... AND and column lists are out of scope, "
                    "loudly)"
                )
            kind, act = action
            if kind == "matched":
                if matched is not None:
                    raise ValueError("duplicate WHEN MATCHED clause")
                matched = act
            else:
                if not_matched is not None:
                    raise ValueError("duplicate WHEN NOT MATCHED clause")
                not_matched = act
        if matched is None:
            # merge_plan cannot express "leave matched rows untouched
            # AND insert": refuse rather than guess.
            raise ValueError(
                "MERGE without a WHEN MATCHED clause is unsupported"
            )
        return matched, (not_matched or "ignore")

    @staticmethod
    def _parse_merge_keys(
        cond: str, tgt_name, tgt_alias, src_clause, source: DataFrame
    ) -> list[str]:
        """ON must be a conjunction of same-named equi-predicates —
        the shape SnapshotTable.merge keys on. Anything else raises."""
        tgt_ok = {x for x in (tgt_name, tgt_alias) if x}
        # source side: its registered name and/or trailing alias
        src_ok: set[str] = set()
        if src_clause.startswith("("):
            m = re.search(r"\)\s*(?:AS\s+)?(\w+)\s*$", src_clause,
                          re.IGNORECASE)
            if m:
                src_ok.add(m.group(1))
        else:
            toks = src_clause.split()
            src_ok.add(_ident(toks[0], "merge source"))
            tail = toks[1:]
            if tail and tail[0].upper() == "AS":
                tail = tail[1:]
            if tail:
                src_ok.add(tail[0].strip('"'))
        keys: list[str] = []
        for part in _split_top(cond, r"\bAND\b"):
            m = re.fullmatch(
                r"\s*(?:(\w+)\.)?(\w+)\s*=\s*(?:(\w+)\.)?(\w+)\s*", part
            )
            if not m:
                raise ValueError(
                    f"non-equi MERGE condition {part.strip()!r}: ON must "
                    "be a conjunction of alias.col = alias.col equalities"
                )
            qa, ca, qb, cb = m.groups()
            if ca != cb:
                raise ValueError(
                    f"MERGE keys must be same-named columns, got "
                    f"{ca!r} = {cb!r}"
                )
            for q in (qa, qb):
                if q is not None and q not in tgt_ok | src_ok:
                    raise ValueError(
                        f"unknown alias {q!r} in MERGE condition"
                    )
            if qa is not None and qa == qb:
                raise ValueError(
                    f"MERGE condition {part.strip()!r} compares one side "
                    "with itself"
                )
            if ca not in source.columns:
                raise ValueError(f"MERGE key {ca!r} missing from source")
            keys.append(ca)
        if not keys:
            raise ValueError("empty MERGE condition")
        return keys

    # -- UPDATE ------------------------------------------------------------

    def _run_update(self, stmt: str) -> dict:
        sets = _top_level_matches(stmt, r"\bSET\b")
        if len(sets) != 1:
            raise ValueError("UPDATE needs exactly one top-level SET")
        wheres = _top_level_matches(stmt, r"\bWHERE\b")
        if len(wheres) > 1:
            raise ValueError("UPDATE: more than one top-level WHERE")
        m = re.match(r"UPDATE\b", stmt, re.IGNORECASE)
        name, alias = _name_and_alias(stmt[m.end():sets[0][0]],
                                      "update target")
        if alias is not None:
            raise ValueError("aliased UPDATE targets are out of scope")
        set_end = wheres[0][0] if wheres else len(stmt)
        assigns = self._parse_assignments(stmt[sets[0][1]:set_end])
        where = stmt[wheres[0][1]:].strip() if wheres else None
        if wheres and not where:
            raise ValueError("empty WHERE clause")

        table = self._dml_target(name)
        cur = table.read()
        types = {f.name: f.dataType for f in cur.schema.fields}
        for col in assigns:
            if col not in types:
                raise ValueError(
                    f"UPDATE SET references unknown column {col!r} "
                    f"(table has {sorted(types)})"
                )
        pred = F.expr(where) if where is not None else F.lit(True)
        # region = rows where pred IS TRUE (NULL rows survive untouched)
        region = cur.filter(F.coalesce(pred, F.lit(False)))
        # Simultaneous assignment against the OLD row + SQL assignment
        # cast to the column's existing type.
        updated = region.withColumns(
            {c: F.expr(rhs).cast(types[c]) for c, rhs in assigns.items()}
        )
        return table.overwrite_where(updated, pred, validate=False)

    @staticmethod
    def _parse_assignments(text: str) -> dict[str, str]:
        out: dict[str, str] = {}
        for part in _split_top(text, r","):
            eqs = _top_level_matches(part, r"=")
            # first top-level '=' not belonging to <=, >=, !=, ==, <>
            pos = None
            for a, _b in eqs:
                if a > 0 and part[a - 1] in "<>!=":
                    continue
                if a + 1 < len(part) and part[a + 1] == "=":
                    continue
                pos = a
                break
            if pos is None:
                raise ValueError(f"malformed assignment {part.strip()!r}")
            col = _ident(part[:pos], "assignment column")
            rhs = part[pos + 1:].strip()
            if not rhs:
                raise ValueError(f"empty assignment RHS for {col!r}")
            if col in out:
                raise ValueError(f"column {col!r} assigned twice")
            out[col] = rhs
        if not out:
            raise ValueError("UPDATE with empty SET list")
        return out

    # -- INSERT ------------------------------------------------------------

    def _run_insert(self, stmt: str) -> dict:
        """``INSERT INTO <t> <query>`` (atomic append) and ``INSERT
        OVERWRITE <t> <query>`` (atomic full replace — Spark's
        non-partitioned INSERT OVERWRITE semantics). The query tail
        (SELECT ... or VALUES ...) is parsed and planned by Spark
        against the registered source views; columns bind BY POSITION
        and are cast to the target schema (standard SQL INSERT
        coercion), arity mismatch raises. An explicit column list
        (``INSERT INTO t (a, b)``) is out of scope, loudly."""
        m = re.match(r"INSERT\s+(INTO|OVERWRITE)\s+(\S+)\s+", stmt,
                     re.IGNORECASE)
        if not m:
            raise ValueError(
                "INSERT must be INSERT INTO <table> <query> or "
                "INSERT OVERWRITE <table> <query>"
            )
        mode = m.group(1).upper()
        name = _ident(m.group(2), "insert target")
        tail = stmt[m.end():].strip()
        if tail.startswith("("):
            raise ValueError(
                "INSERT with an explicit column list is out of scope; "
                "bind all columns by position"
            )
        if not re.match(r"(SELECT|VALUES|WITH)\b", tail, re.IGNORECASE):
            raise ValueError(
                f"INSERT body must be SELECT/VALUES/WITH, got {tail[:30]!r}"
            )
        table = self._dml_target(name)
        src = self.spark.sql(tail)
        tgt_fields = table.schema().fields
        if len(src.columns) != len(tgt_fields):
            raise ValueError(
                f"INSERT arity mismatch: query yields {len(src.columns)} "
                f"columns, table {name!r} has {len(tgt_fields)}"
            )
        aligned = src.select(
            *[
                F.col(c).cast(f.dataType).alias(f.name)
                for c, f in zip(src.columns, tgt_fields)
            ]
        )
        if mode == "OVERWRITE":
            return table.create_or_replace(aligned)
        return table.append(aligned)

    # -- DELETE ------------------------------------------------------------

    def _run_delete(self, stmt: str) -> dict:
        m = re.match(r"DELETE\s+FROM\b", stmt, re.IGNORECASE)
        if not m:
            raise ValueError("DELETE must start with DELETE FROM")
        wheres = _top_level_matches(stmt, r"\bWHERE\b")
        if len(wheres) > 1:
            raise ValueError("DELETE: more than one top-level WHERE")
        end = wheres[0][0] if wheres else len(stmt)
        name, alias = _name_and_alias(stmt[m.end():end], "delete target")
        if alias is not None:
            raise ValueError("aliased DELETE targets are out of scope")
        table = self._dml_target(name)
        if wheres:
            where = stmt[wheres[0][1]:].strip()
            if not where:
                raise ValueError("empty WHERE clause")
            pred = F.expr(where)
        else:
            pred = F.lit(True)
        return table.delete_where(pred)


# ---------------------------------------------------------------------------
# driver certificate
# ---------------------------------------------------------------------------

@query(
    "a57_sql_dml",
    oracle="""
    WITH tgt AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 3 = 0
    ), src AS (
      SELECT c_custkey, c_name, c_nationkey,
             c_acctbal + 500.0 AS c_acctbal,
             'UPDATED' AS c_mktsegment
      FROM customer WHERE c_custkey % 6 = 0
      UNION ALL
      SELECT c_custkey, c_name, c_nationkey, c_acctbal,
             'INSERTED' AS c_mktsegment
      FROM customer WHERE c_custkey % 3 = 1
    ), merged AS (
      SELECT * FROM tgt
      WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
      UNION ALL
      SELECT * FROM src
    ), updated AS (
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_nationkey < 10 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS c_acctbal,
             CASE WHEN c_nationkey < 10 THEN upper(c_mktsegment)
                  ELSE c_mktsegment END AS c_mktsegment
      FROM merged
    ), deleted AS (
      SELECT * FROM updated
      WHERE NOT COALESCE(c_acctbal < 0.0, FALSE)
    )
    SELECT * FROM deleted
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal,
           'APPENDED' AS c_mktsegment
    FROM customer WHERE c_custkey % 3 = 2 AND c_custkey % 4 = 1
    ORDER BY c_custkey
    """,
)
def a57_sql_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text DML route: the full statement-text
    path — a MERGE INTO upsert, a predicate UPDATE, a predicate
    DELETE, and an INSERT INTO ... SELECT, each parsed from SQL text
    and routed to the certified SnapshotTable op, four real commits
    on one table. The oracle recomputes all four statements
    relationally (anti-join ∪ source; CASE-guarded assignment;
    IS-TRUE delete region; UNION ALL append), so the returned table
    state hash-checks the parser's clause extraction, the routing,
    and the commit semantics end-to-end. Arithmetic is single-IEEE-op
    per row (+500.0 / +100.0) — bit-identical across engines, no sum
    ordering involved.

    100 TB design: the front-end adds zero data-plane work over the
    API twins (a13/a19/a20) — MERGE is the same two hash joins,
    UPDATE one filtered CoW rewrite, DELETE one CoW rewrite (both
    file-pruned when bounds are supplied); parsing is driver-side
    O(statement length)."""
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"]
    t = SnapshotTable(spark, os.path.join(scratch("dml"), "cust"))
    c = T(spark, sf_dir, "customer")
    t.create(c.filter(F.col("c_custkey") % 3 == 0).select(cols))

    upd = c.filter(F.col("c_custkey") % 6 == 0).select(
        "c_custkey", "c_name", "c_nationkey",
        (F.col("c_acctbal") + 500.0).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    ins = c.filter(F.col("c_custkey") % 3 == 1).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal",
        F.lit("INSERTED").alias("c_mktsegment"),
    )
    sess = DmlSession(spark)
    sess.bind_table("cust", t)
    sess.bind_source("dml_src", upd.unionByName(ins))
    sess.sql(
        "MERGE INTO cust AS t USING dml_src AS s "
        "ON t.c_custkey = s.c_custkey "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    sess.sql(
        "UPDATE cust SET c_acctbal = c_acctbal + 100.0, "
        "c_mktsegment = upper(c_mktsegment) WHERE c_nationkey < 10"
    )
    sess.sql("DELETE FROM cust WHERE c_acctbal < 0.0")
    sess.bind_source(
        "dml_pool",
        c.filter((F.col("c_custkey") % 3 == 2)
                 & (F.col("c_custkey") % 4 == 1)).select(cols),
    )
    sess.sql(
        "INSERT INTO cust SELECT c_custkey, c_name, c_nationkey, "
        "c_acctbal, 'APPENDED' FROM dml_pool"
    )
    return t.read().select(cols).orderBy("c_custkey")
