"""SQL front door: register frost tables as temp views and query with
``spark.sql`` — how analysts actually reach the engine.

The reference's gold runner registers every upstream table as a temp view
and executes model SQL against the session catalog
(/root/reference/ofl/transform/gold/runner.py:150-162); missing upstreams
are logged and skipped rather than failing the whole run
(the missing-table tolerance the bronze/silver lanes apply,
/root/reference/ofl/transform/spark/silver.py:41-47). Same contract here:
``register_tables`` warns and skips locations with no table (returning the
skip list so callers can gate on it), and ``run_sql`` is a thin
``spark.sql`` wrapper kept for API parity.

Views are plain logical plans over ``LakeTable.scan`` — manifest-level
pruning still applies through the scan's explicit file list, and Catalyst
sees ordinary parquet relations, so predicate pushdown and column pruning
work unchanged through the SQL surface. A table of at most
``SMALL_READ_BYTES`` is the exception: ``scan`` reads it on the driver
when the view is registered, and the view is a local relation.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession

from open_finance_lakehouse_spark.format.table import LakeTable


def register_view(table: LakeTable, name: str,
                  snapshot_id: int | None = None) -> None:
    """One table (optionally time-travelled) as a temp view."""
    table.scan(snapshot_id=snapshot_id).createOrReplaceTempView(name)


def register_tables(
    spark: SparkSession,
    tables: dict[str, "str | LakeTable"],
    on_missing: str = "warn",
) -> dict[str, list[str]]:
    """Register ``{view_name: location-or-LakeTable}``; returns
    ``{"registered": [...], "skipped": [...]}``.

    ``on_missing``: "warn" (default) logs and skips absent locations —
    downstream SQL referencing a skipped view fails by name, everything
    else runs; "raise" fails fast."""
    if on_missing not in ("warn", "raise"):
        raise ValueError(
            f"on_missing={on_missing!r} — expected 'warn' or 'raise'")
    registered: list[str] = []
    skipped: list[str] = []
    for name, t in tables.items():
        if isinstance(t, LakeTable):
            register_view(t, name)
            registered.append(name)
            continue
        try:
            # load() is the authoritative existence check — an isdir probe
            # would accept a half-created metadata dir (crashed create)
            # and then crash the whole run despite warn mode
            table = LakeTable.load(spark, t)
        except FileNotFoundError:
            if on_missing == "raise":
                raise FileNotFoundError(f"no table at {t} for view {name}")
            warnings.warn(f"skipping view {name}: no table at {t}",
                          stacklevel=2)
            skipped.append(name)
            continue
        register_view(table, name)
        registered.append(name)
    return {"registered": registered, "skipped": skipped}


def run_sql(spark: SparkSession, query: str) -> DataFrame:
    return spark.sql(query)


def run_select(
    spark: SparkSession,
    query: str,
    tables: dict[str, "str | LakeTable"],
) -> DataFrame:
    """Read-path front door: register ``tables`` as views, honor inline
    time travel — ``FROM <t> VERSION AS OF <snapshot_id>`` / ``FROM <t>
    TIMESTAMP AS OF <epoch_ms>`` (the Delta syntax) — and hand the
    query to ``spark.sql``.

    Each travelled mention is rewritten to a fresh view name pinned at
    the resolved snapshot, so one query can join a table to its own
    past (``SELECT ... FROM t JOIN t VERSION AS OF 3 USING (k)``). The
    scan is quote-aware: a string literal containing 'version as of' is
    never rewritten. Only registered table names rewrite — anything
    else is left for Spark's parser to reject, keeping error messages
    native."""
    import re

    def quote_spans(s: str) -> list[tuple[int, int]]:
        spans, i, n = [], 0, len(s)
        while i < n:
            if s[i] in "'\"":
                end = _skip_quoted(s, i)  # backslash-escape aware
                spans.append((i, end - 1))
                i = end
            else:
                i += 1
        return spans

    register_tables(spark, tables)
    spans = quote_spans(query)
    out, used = [], 0
    pat = re.compile(
        rf"\b({_IDENT})\s+(version|timestamp)\s+as\s+of\s+(\d+)\b", re.I)
    for m in pat.finditer(query):
        if any(a <= m.start() <= b for a, b in spans):
            continue
        name, kind, n = m.group(1), m.group(2).lower(), int(m.group(3))
        if name not in tables:
            continue
        t = tables[name]
        if not isinstance(t, LakeTable):
            t = LakeTable.load(spark, t)
        sid = n if kind == "version" else t.snapshot_id_as_of(n)
        view = f"{name}__asof_{sid}"
        register_view(t, view, snapshot_id=sid)
        out.append(query[used:m.start()])
        out.append(view)
        used = m.end()
    out.append(query[used:])
    return spark.sql("".join(out))


# ------------------------------------------------------------------ DML

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


def _skip_quoted(s: str, i: int, backslash: bool = True) -> int:
    """``s[i]`` is a quote char: return the index just past the span's
    closing quote. With ``backslash`` (Spark's default literal syntax)
    ``\\'`` is an escaped quote and is SKIPPED — a scanner blind to it
    flips quote parity and treats literal content as code. Pass
    ``backslash=False`` for grammars where only ``''`` doubling escapes
    (TBLPROPERTIES values — a backslash there is a plain character).
    An unterminated span runs to end-of-string."""
    q, j, n = s[i], i + 1, len(s)
    while j < n:
        if backslash and s[j] == "\\":
            j += 2
            continue
        if s[j] == q:
            return j + 1
        j += 1
    return n


def _split_top(s: str, sep: str, backslash_escapes: bool = True
               ) -> list[str]:
    """Split on ``sep`` (case-insensitive) at paren/quote depth zero.
    Word separators must carry their own spaces (``" and "``) — that is
    what keeps ``band`` or ``android`` from matching."""
    out, buf, depth, i, n = [], [], 0, 0, len(s)
    sl = sep.lower()
    low = s.lower()
    while i < n:
        c = s[i]
        if c in "'\"":
            # opaque span: a single-quoted literal or a double-quoted
            # literal/identifier (Spark treats "..." as a string by
            # default) — keywords inside never split
            end = _skip_quoted(s, i, backslash=backslash_escapes)
            buf.append(s[i:end])
            i = end
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if depth == 0 and low.startswith(sl, i):
            out.append("".join(buf))
            buf = []
            i += len(sl)
            continue
        buf.append(c)
        i += 1
    out.append("".join(buf))
    return out


def _find_top_keyword(s: str, word: str) -> int:
    """Index of the first paren/quote-depth-zero occurrence of ``word``
    as a whole word (case-insensitive), else -1.  The UPDATE grammar
    needs this to find the real WHERE: a regex ``\\s+where\\s+`` split
    binds inside a SET string literal (``SET msg = 'no where clause'``).
    Delegates to the CASE-aware scanner: a keyword inside a CASE...END
    span is an expression fragment in every grammar here, never a split
    point."""
    return _find_kw_outside_case(s, word)


def _strip_outer_parens(s: str) -> str:
    """Peel redundant MATCHED outer parens: ``(a AND b)`` → ``a AND b``.
    ``(a) or (b)`` is untouched (the first paren closes mid-string), as
    is anything whose parens are part of a function call or IN-list."""
    s = s.strip()
    while len(s) >= 2 and s[0] == "(" and s[-1] == ")":
        depth, i, n = 0, 0, len(s)
        closes_at_end = False
        while i < n:
            c = s[i]
            if c == "'":
                i = _skip_quoted(s, i)
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    closes_at_end = i == n - 1
                    break
            i += 1
        if not closes_at_end:
            return s
        s = s[1:-1].strip()
    return s


def _parse_literal(tok: str):
    tok = tok.strip()
    if tok.startswith("'"):
        if "\\" in tok:
            # Spark's default literal syntax DECODES backslash escapes
            # ('a\nb' is a-LF-b): lifting the raw text would compare —
            # and prune on — the wrong value. Not liftable; the conjunct
            # stays in the residual where Spark evaluates it natively.
            return None
        # the token must be EXACTLY one quoted literal (scanning past ''
        # escapes): a first-and-last-quote check would accept
        # "'x' or b = 'y'" as one string, silently lifting a bogus
        # equality and DROPPING the OR from the residual
        i, n = 1, len(tok)
        while i < n:
            if tok[i] == "'":
                if i + 1 < n and tok[i + 1] == "'":
                    i += 2
                    continue
                if i == n - 1:
                    return tok[1:i].replace("''", "'")
                return None  # text continues past the closing quote
            i += 1
        return None  # unterminated literal
    for cast in (int, float):
        try:
            return cast(tok)
        except ValueError:
            pass
    return None  # not a literal we can push into stats


def _extract_conjuncts(where: str):
    """Lift top-level AND conjuncts into ColumnRange predicates for
    manifest/bucket pruning. Returns ``(predicates, fully_parsed)``:
    a conjunct the grammar can't express exactly stays IN the residual
    (``fully_parsed=False`` disables the metadata-only delete tier);
    strict ``<``/``>`` extract as RELAXED inclusive bounds — sound for
    pruning (superset of matching files) but never exact. BETWEEN's
    inner AND is protected from the conjunct split by the pattern check
    below (a conjunct that fails every pattern simply isn't lifted)."""
    import re

    from open_finance_lakehouse_spark.format.table import ColumnRange

    # SQL precedence: AND binds tighter than OR, so "p AND q OR r" is
    # (p AND q) OR r — no single conjunct is a sound filter over the
    # whole clause. A top-level OR anywhere (quote/paren-protected; ORs
    # INSIDE parens leave their own conjunct unliftable but the rest
    # sound) disables lifting entirely: the operators conjoin lifted
    # predicates with the residual, so a mislifted one would silently
    # exclude rows matching only the OR's other arm.
    if _find_top_keyword(where, "or") >= 0:
        return [], False

    preds, fully = [], True
    parts = _split_top(where, " and ")
    # re-join BETWEEN halves the AND-split severed
    joined, i = [], 0
    while i < len(parts):
        p = parts[i]
        if re.search(rf"\bbetween\b\s*\S*$", p, re.I) or (
                re.search(rf"\bbetween\b", p, re.I)
                and not re.search(
                    rf"\bbetween\b.+\band\b", p, re.I)):
            if i + 1 < len(parts):
                joined.append(p + " AND " + parts[i + 1])
                i += 2
                continue
        joined.append(p)
        i += 1

    for c in joined:
        # redundant parens around a single conjunct — "(a = 1) and b = 2"
        # — would otherwise match no lift pattern and lose its pruning
        c = _strip_outer_parens(c)
        if _find_top_keyword(c, "or") >= 0:
            fully = False  # "(p or q)" stripped bare: residual-only
            continue
        m = re.fullmatch(rf"({_IDENT})\s+is\s+(not\s+)?null", c, re.I)
        if m:
            # IS [NOT] NULL lifts exactly — pruned via manifest null
            # counts (plan_files / _proves_full_match), so a retention
            # "purge the unlabeled rows" delete keeps its metadata tier
            preds.append(ColumnRange(
                m.group(1), null_test="notnull" if m.group(2) else "null"))
            continue
        m = re.fullmatch(
            rf"({_IDENT})\s*(<=|>=|<|>|==|=)\s*(.+)", c, re.S)
        if m:
            col, op, rhs = m.group(1), m.group(2), m.group(3)
            v = _parse_literal(rhs)
            if v is None:
                fully = False
                continue
            if op in ("=", "=="):
                preds.append(ColumnRange(col, lo=v, hi=v))
            elif op == "<=":
                preds.append(ColumnRange(col, hi=v))
            elif op == ">=":
                preds.append(ColumnRange(col, lo=v))
            elif op == "<":
                preds.append(ColumnRange(col, hi=v))  # relaxed: prune-only
                fully = False
            else:
                preds.append(ColumnRange(col, lo=v))  # relaxed
                fully = False
            continue
        m = re.fullmatch(
            rf"({_IDENT})\s+between\s+(.+?)\s+and\s+(.+)", c, re.S | re.I)
        if m:
            lo, hi = _parse_literal(m.group(2)), _parse_literal(m.group(3))
            if lo is None or hi is None:
                fully = False
                continue
            preds.append(ColumnRange(m.group(1), lo=lo, hi=hi))
            continue
        m = re.fullmatch(
            rf"({_IDENT})\s+in\s*\((.+)\)", c, re.S | re.I)
        if m:
            vals = [_parse_literal(v) for v in _split_top(m.group(2), ",")]
            if any(v is None for v in vals):
                fully = False
                continue
            preds.append(ColumnRange(m.group(1), values=tuple(vals)))
            continue
        fully = False  # unliftable conjunct: stays residual-only
    return preds, fully


def _extract_predicates(where: str):
    """Full WHERE lift: ``(predicates, any_of, fully)``.

    A top-level OR splits the clause into ARMS (each an AND of
    conjuncts): ``any_of`` carries one ColumnRange list per arm for
    DISJUNCTIVE pruning — a file no arm can match is never read, and
    (when every arm lifts exactly) a file some arm provably matches
    entirely still drops metadata-only.  Without a top-level OR this is
    ``_extract_conjuncts`` unchanged (``any_of=None``)."""
    where = _strip_outer_parens(where)  # "((p) or (q))" → "(p) or (q)"
    arms_src = _split_top(where, " or ")
    if len(arms_src) == 1:
        preds, fully = _extract_conjuncts(where)
        return preds, None, fully
    arms, fully = [], True
    for a in arms_src:
        # "(a AND b) OR c" is the textbook OR shape: peel the arm's
        # matched outer parens so its conjuncts lift for pruning
        p, f = _extract_conjuncts(_strip_outer_parens(a))
        arms.append(p)
        # an arm that doesn't lift EXACTLY (or at all: p == []) keeps the
        # whole clause residual; its empty/relaxed ranges still prune
        # soundly (an empty arm simply prunes nothing)
        fully = fully and f and bool(p)
    return [], arms, fully


def run_dml(
    spark: SparkSession,
    statement: str,
    tables: dict[str, "str | LakeTable"],
    ledger,
    job_id: str | None = None,
) -> dict:
    """Route ``DELETE FROM <name> WHERE ...`` and ``UPDATE <name> SET
    c = expr[, ...] [WHERE ...]`` to the predicate DML operators — the
    SQL shapes a Delta user writes against the reference's tables.

    The WHERE clause is applied EXACTLY as the row-level residual; any
    top-level conjunct the range grammar can express is ALSO lifted into
    a ColumnRange so manifest stats and bucket-value pruning fire. When
    the whole WHERE lifts exactly, the residual is dropped and DELETE's
    metadata-only tier stays available."""
    import re

    from open_finance_lakehouse_spark.operators.delete_where import (
        delete_where,
    )
    from open_finance_lakehouse_spark.operators.update_where import (
        update_where,
    )

    def resolve(name: str) -> LakeTable:
        if name not in tables:
            raise ValueError(
                f"DML references unknown table {name!r}; known: "
                f"{sorted(tables)}")
        t = tables[name]
        return t if isinstance(t, LakeTable) else LakeTable.load(spark, t)

    s = statement.strip().rstrip(";").strip()
    m = re.fullmatch(
        rf"delete\s+from\s+({_IDENT})\s+where\s+(.+)", s, re.S | re.I)
    if m:
        table = resolve(m.group(1))
        where = m.group(2).strip()
        preds, any_of, fully = _extract_predicates(where)
        return delete_where(
            table, ledger, job_id or f"sql-delete-{m.group(1)}",
            predicates=preds, any_of=any_of,
            residual=None if (fully and (preds or any_of)) else where)

    m = re.fullmatch(
        rf"update\s+({_IDENT})\s+set\s+(.+)", s, re.S | re.I)
    if m:
        table = resolve(m.group(1))
        # split SET list from WHERE at the first TOP-LEVEL where keyword
        # (quote/paren protected): a regex \s+where\s+ would bind inside
        # a SET string literal and mangle a legal statement
        rest = m.group(2)
        widx = _find_top_keyword(rest, "where")
        set_part = rest[:widx] if widx >= 0 else rest
        where = rest[widx + len("where"):].strip() if widx >= 0 else ""
        sets = {}
        for a in _split_top(set_part, ","):
            col, eq, expr = a.partition("=")
            if not eq or not re.fullmatch(rf"\s*{_IDENT}\s*", col):
                raise ValueError(f"bad SET assignment: {a.strip()!r}")
            sets[col.strip()] = expr.strip()
        preds, any_of = [], None
        if where:
            preds, any_of, _fully = _extract_predicates(where)
        return update_where(
            table, ledger, job_id or f"sql-update-{m.group(1)}",
            set=sets, predicates=preds or None, any_of=any_of,
            residual=where or None)

    raise ValueError(
        "run_dml handles DELETE FROM <t> WHERE ... and UPDATE <t> SET ... "
        f"[WHERE ...]; got: {statement[:80]!r} (SELECTs go to run_sql)")


# ------------------------------------------------------------- MERGE SQL


def _find_kw_outside_case(s: str, word: str, start: int = 0) -> int:
    """Like ``_find_top_keyword`` but ALSO skips ``CASE ... END`` spans:
    a MERGE clause's SET expression may legally contain CASE WHEN/THEN,
    which must not be mistaken for clause boundaries."""
    low = s.lower()
    w = word.lower()
    depth, case_depth, i, n = 0, 0, start, len(s)

    def word_at(kw: str, i: int) -> bool:
        # a '.'-qualified name (t.end, s.when) is a COLUMN reference,
        # never the keyword
        return (low.startswith(kw, i)
                and (i == 0 or not (low[i - 1].isalnum()
                                    or low[i - 1] in "._"))
                and (i + len(kw) == n
                     or not (low[i + len(kw)].isalnum()
                             or low[i + len(kw)] == "_")))

    while i < n:
        c = s[i]
        if c in "'\"":
            # opaque span: single-quoted literal or double-quoted
            # literal/identifier — keywords inside never match
            i = _skip_quoted(s, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            if word_at("case", i):
                case_depth += 1
                i += 4
                continue
            if case_depth and word_at("end", i):
                case_depth -= 1
                i += 3
                continue
            if case_depth == 0 and word_at(w, i):
                return i
        i += 1
    return -1


def _merge_clauses(tail: str) -> list[dict]:
    """Split the WHEN-clause tail into ordered clause dicts."""
    import re

    out = []
    s = tail
    while s.strip():
        idx = _find_kw_outside_case(s, "when", start=4)  # skip leading WHEN
        seg, s = (s[:idx], s[idx:]) if idx >= 0 else (s, "")
        # head/action split at the clause's OWN top-level THEN (a CASE's
        # THEN inside a condition never binds here)
        tidx = _find_kw_outside_case(seg, "then")
        if tidx < 0:
            raise ValueError(f"unparseable MERGE clause: {seg.strip()!r}")
        head, action = seg[:tidx], seg[tidx + 4:].strip()
        m = re.fullmatch(
            r"\s*when\s+(not\s+)?matched\s*(?:\s+and\s+(.+))?\s*",
            head, re.S | re.I)
        if not m:
            raise ValueError(f"unparseable MERGE clause: {seg.strip()!r}")
        clause = {"matched": not m.group(1),
                  "cond": (m.group(2) or "").strip() or None}
        am = re.fullmatch(r"update\s+set\s+(.+)", action, re.S | re.I)
        if am and clause["matched"]:
            sets = {}
            for a in _split_top(am.group(1), ","):
                col, eq, expr = a.partition("=")
                if not eq:
                    raise ValueError(f"bad MERGE SET assignment: {a!r}")
                sets[col.strip().split(".")[-1]] = expr.strip()
            clause["action"], clause["set"] = "update", sets
            out.append(clause)
            continue
        if re.fullmatch(r"delete", action, re.I) and clause["matched"]:
            clause["action"] = "delete"
            out.append(clause)
            continue
        am = re.fullmatch(
            r"insert\s*(\*|\(([^)]*)\)\s*values\s*\((.*)\))",
            action, re.S | re.I)
        if am and not clause["matched"]:
            clause["action"] = "insert"
            if am.group(1) == "*":
                clause["insert"] = None  # INSERT *: source columns by name
            else:
                cols = [c.strip().split(".")[-1]
                        for c in _split_top(am.group(2), ",")]
                vals = [v.strip() for v in _split_top(am.group(3), ",")]
                if len(cols) != len(vals):
                    raise ValueError("MERGE INSERT column/value count "
                                     f"mismatch: {cols} vs {len(vals)} "
                                     "values")
                clause["insert"] = dict(zip(cols, vals))
            out.append(clause)
            continue
        raise ValueError(
            f"unsupported MERGE action {action[:60]!r} (matched clauses "
            "take UPDATE SET/DELETE; not-matched take INSERT)")
    return out


def run_merge(
    spark: SparkSession,
    statement: str,
    tables: dict[str, "str | LakeTable"],
    ledger,
    source: "DataFrame | None" = None,
    job_id: str | None = None,
    source_token: str | None = None,
) -> dict:
    """``MERGE INTO <t> [AS] t USING <src> [AS] s ON t.k = s.k [AND ...]
    WHEN [NOT] MATCHED [AND cond] THEN UPDATE SET ... | DELETE |
    INSERT * | INSERT (cols) VALUES (exprs)`` — the Delta MERGE statement
    lowered onto the copy-on-write ``merge_into`` operator.

    Semantics follow SQL MERGE: clauses evaluate IN ORDER per row (first
    match wins); a row no clause claims is untouched; duplicate source
    keys error (Delta's multiple-source-rows-matched rule). Conditions
    and expressions may reference both aliases (``t.v + s.delta``). The
    ON clause must be equalities on SAME-NAMED columns including the
    table's bucket column — that key list drives merge_into's pruned
    per-bucket planning. The matched/not-matched decision costs one
    column-pruned key join of the source against the target scan; the
    REWRITE itself stays merge_into's stats+bucket-pruned plan.

    ``source``: a DataFrame for the USING name; otherwise the name
    resolves through ``tables`` (a LakeTable scan) or a registered view.
    ``source_token`` keys idempotent replay (merge_into contract); ad-hoc
    SQL defaults to a random token, so replays re-apply (the statement
    itself is naturally idempotent for pure upsert/delete shapes)."""
    import re
    import uuid

    from pyspark.sql import functions as F

    from open_finance_lakehouse_spark.operators.merge_into import merge_into

    s_stmt = statement.strip().rstrip(";").strip()
    m = re.match(
        rf"merge\s+into\s+({_IDENT})(?:\s+as)?(?:\s+({_IDENT}))?"
        rf"\s+using\s+({_IDENT})(?:\s+as)?(?:\s+({_IDENT}))?"
        rf"\s+on\s+(.+?)\s+(when\s+.+)",
        s_stmt, re.S | re.I)
    if not m:
        raise ValueError(
            "run_merge handles MERGE INTO <t> USING <s> ON ... WHEN ...; "
            f"got: {statement[:80]!r}")
    # alias-free MERGE qualifies columns by the table names themselves
    # (standard ANSI/Delta form) — default the aliases accordingly
    tgt_name, t_alias = m.group(1), (m.group(2) or m.group(1)).lower()
    src_name, s_alias = m.group(3), (m.group(4) or m.group(3)).lower()
    if tgt_name not in tables:
        raise ValueError(f"MERGE target {tgt_name!r} not in tables; "
                         f"known: {sorted(tables)}")
    tgt = tables[tgt_name]
    if not isinstance(tgt, LakeTable):
        tgt = LakeTable.load(spark, tgt)
    if source is None:
        src_obj = tables.get(src_name)
        if isinstance(src_obj, LakeTable):
            source = src_obj.scan()
        elif isinstance(src_obj, str):
            source = LakeTable.load(spark, src_obj).scan()
        else:
            source = spark.table(src_name)  # registered view

    # ON: conjunction of same-named alias equalities -> the merge key.
    # The grammar admits no string literals here, so whitespace collapse
    # is safe and lets "\nAND"-formatted statements split
    keys = []
    for c in _split_top(" ".join(m.group(5).split()), " and "):
        em = re.fullmatch(
            rf"\(*\s*({_IDENT})\.({_IDENT})\s*=\s*({_IDENT})\.({_IDENT})"
            rf"\s*\)*", c.strip(), re.I)
        if not em:
            raise ValueError(f"MERGE ON must be alias equalities "
                             f"(t.k = s.k); got {c.strip()!r}")
        pairs = {em.group(1).lower(): em.group(2),
                 em.group(3).lower(): em.group(4)}
        if set(pairs) != {t_alias, s_alias} or \
                pairs[t_alias] != pairs[s_alias]:
            raise ValueError(
                f"MERGE ON equality must join the SAME column name across "
                f"both aliases; got {c.strip()!r}")
        keys.append(pairs[t_alias])
    clauses = _merge_clauses(m.group(6))

    tgt_schema = tgt.schema()
    data_cols = tgt_schema.names
    col_types = {f.name: f.dataType for f in tgt_schema.fields}
    # Spark resolves identifiers case-insensitively; canonicalize every
    # parsed column name to the target schema's spelling so the guards
    # below can't be bypassed by a case variant (SET day vs ON t.Day)
    cf = {c.lower(): c for c in data_cols}
    unknown_keys = [k for k in keys if k.lower() not in cf]
    if unknown_keys:
        raise ValueError(
            f"MERGE ON key columns not in the target schema: "
            f"{unknown_keys} (target columns: {data_cols})")
    keys = [cf[k.lower()] for k in keys]
    for cl in clauses:
        if cl.get("set"):
            cl["set"] = {cf.get(c.lower(), c): e
                         for c, e in cl["set"].items()}
        if cl.get("insert"):
            cl["insert"] = {cf.get(c.lower(), c): e
                            for c, e in cl["insert"].items()}
    for cl in clauses:
        # typo'd column names must refuse, not silently drop the
        # assignment (the merge would claim the rows and rewrite them
        # UNCHANGED — the user believes the update applied)
        named = (list(cl.get("set") or [])
                 + list(cl.get("insert") or []))
        unknown = [c for c in named if c not in data_cols]
        if unknown:
            raise ValueError(
                f"MERGE clause references columns not in the target "
                f"schema: {unknown} (target columns: {data_cols})")
        # SET on an ON-key column cannot lower onto the keyed upsert:
        # the batch row would carry the NEW key, so merge_into keeps the
        # old-key target row AND inserts the new one — silent duplication
        bad_keys = [c for c in (cl.get("set") or []) if c in keys]
        if bad_keys:
            raise ValueError(
                f"MERGE cannot UPDATE the ON-key column(s) {bad_keys}: "
                "a key change is a DELETE + INSERT, not an upsert — "
                "write it as two clauses/statements")
        # an explicit INSERT list must cover the ON keys: omitting one
        # would insert NULL-key rows, which the latest-per-key dedup
        # then collapses into ONE row — silent row loss vs SQL
        if cl.get("insert") is not None and cl["action"] == "insert":
            lost = [k for k in keys if k not in cl["insert"]]
            if lost:
                raise ValueError(
                    f"MERGE INSERT column list must include the ON-key "
                    f"column(s) {lost}: omitted keys would insert as "
                    "NULL and collapse in the keyed upsert")

    dup = (source.groupBy(*keys).count().filter("count > 1").limit(1)
           .collect())
    if dup:
        raise ValueError(
            "MERGE source has multiple rows per key "
            f"{tuple(dup[0][k] for k in keys)!r} — SQL MERGE forbids "
            "multiple source rows matching one target row (pre-aggregate "
            "the source)")
    # duplicate TARGET keys among the MATCHED keys would make the keyed
    # upsert rewrite/delete EVERY same-key target row — including rows a
    # conditional clause never claimed — so refuse BEFORE claiming, from
    # a key-columns-only semi-join plan (cheaper than re-running the
    # full clause-resolved join)
    # no broadcast HINT: the source is any registered relation (USING
    # <big_table> is legal) — a forced broadcast of its distinct keys
    # collects them all to the driver; unhinted, Spark/AQE picks
    # broadcast when the side is actually small and shuffle otherwise
    tdup = (tgt.scan().select(*keys)
            .join(source.select(*keys).distinct(),
                  on=keys, how="left_semi")
            .groupBy(*keys).count().filter("count > 1").limit(1)
            .collect())
    if tdup:
        raise ValueError(
            "MERGE target has multiple rows per key "
            f"{tuple(tdup[0][k] for k in keys)!r} — the keyed upsert "
            "cannot apply per-row clauses to duplicate target keys; "
            "deduplicate the target first")

    # matched decision: key join (broadcast-friendly source side); the
    # join on=names collapses key columns, so __matched needs a
    # TARGET-ONLY witness — a constant marker added pre-join, never a
    # data column (whose legitimate NULLs would misread as "not matched")
    joined = (source.alias(s_alias)
              .join(tgt.scan().withColumn("__t", F.lit(1))
                    .alias(t_alias), on=keys, how="left")
              .withColumn("__matched", F.col("__t").isNotNull())
              .drop("__t"))

    # clause resolution IN ORDER: first matching clause claims the row
    action = F.lit(None).cast("int")
    claimed = F.lit(False)
    for i, cl in enumerate(clauses):
        cond = F.col("__matched") if cl["matched"] \
            else ~F.col("__matched")
        if cl["cond"]:
            cond = cond & F.expr(cl["cond"]).eqNullSafe(F.lit(True))
        action = F.when(~claimed & cond, F.lit(i)).otherwise(action)
        claimed = claimed | cond
    tagged = joined.withColumn("__action", action) \
                   .filter(F.col("__action").isNotNull())

    def out_col(c: str):
        # per-action value: update -> SET expr else t.c; insert -> INSERT
        # expr else s.c (INSERT *); delete -> t.c (ignored by the D arm)
        expr = F.col(f"{t_alias}.{c}") if c not in keys else F.col(c)
        src_expr = F.col(f"{s_alias}.{c}") if c not in keys else F.col(c)
        for i, cl in enumerate(clauses):
            this = F.col("__action") == i
            if cl["action"] == "update" and c in cl["set"]:
                expr = F.when(this, F.expr(cl["set"][c])).otherwise(expr)
            elif cl["action"] == "insert":
                ins = cl["insert"]
                v = (src_expr if ins is None
                     else (F.expr(ins[c]) if c in ins
                           else F.lit(None)))
                expr = F.when(this, v).otherwise(expr)
        return expr.cast(col_types[c]).alias(c)

    is_delete = F.lit(False)
    for i, cl in enumerate(clauses):
        if cl["action"] == "delete":
            is_delete = is_delete | (F.col("__action") == i)
    batch = tagged.select(
        *[out_col(c) for c in data_cols],
        F.when(is_delete, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.lit(1).cast("long").alias("seq"))

    return merge_into(
        tgt, batch, ledger, job_id or f"sql-merge-{tgt_name}",
        source_token=source_token or f"sql-{uuid.uuid4().hex}",
        key=keys)


# ---------------------------------------------------------- INSERT SQL


def run_insert(
    spark: SparkSession,
    statement: str,
    tables: dict[str, "str | LakeTable"],
) -> dict:
    """``INSERT INTO|OVERWRITE [TABLE] <t> [(cols)] VALUES ...|SELECT ...``
    lowered onto ``LakeTable.append`` / ``replace`` — the write half of
    the SQL surface (the reference's gold models land with
    ``INSERT OVERWRITE``-equivalent full rebuilds,
    /root/reference/ofl/transform/gold/runner.py:150-162).

    The source body is handed VERBATIM to ``spark.sql`` with every entry
    in ``tables`` registered as a temp view first — Spark's parser owns
    literals, expressions, and subqueries, so anything a SELECT can
    produce can be inserted (``VALUES`` rows become
    ``SELECT * FROM VALUES ...``; ``WITH ... SELECT`` CTE bodies pass
    through). Column semantics are positional, the
    ANSI INSERT contract: with a column list, the list must name every
    target column exactly once (the format has no column defaults, so a
    partial list cannot be satisfied); without one, source arity must
    equal the target's. Values cast to the declared column types through
    the session's cast semantics (ANSI mode: malformed values raise
    rather than silently nulling). ``INSERT INTO`` appends one snapshot;
    ``INSERT OVERWRITE`` replaces the table in one snapshot (Delta's
    dynamic-partition-overwrite subtleties don't apply — overwrite here
    is whole-table, the reference's full-rebuild shape). Write-time
    contract enforcement (``contract`` table property) applies unchanged
    — a violating INSERT refuses and commits nothing. Inserting FROM the
    target table itself is safe: the append stages new files from the
    pre-insert snapshot (copy-on-write, never in-place).
    """
    import re

    from pyspark.sql import functions as F

    s = statement.strip().rstrip(";").strip()
    m = re.match(
        rf"insert\s+(into|overwrite)\s+(?:table\s+)?({_IDENT})\s*"
        rf"(?:\(([^)]+)\)\s*)?(values\b.*|select\b.*|with\b.*)$",
        s, re.I | re.S)
    if not m:
        raise ValueError(
            "run_insert handles INSERT INTO|OVERWRITE [TABLE] <t> "
            f"[(cols)] VALUES ...|SELECT ...; got: {statement[:80]!r}")
    mode, name, col_list, body = (m.group(1).lower(), m.group(2),
                                  m.group(3), m.group(4))
    if name not in tables:
        raise ValueError(f"INSERT target {name!r} not in tables; "
                         f"known: {sorted(tables)}")
    tgt = tables[name]
    if not isinstance(tgt, LakeTable):
        tgt = LakeTable.load(spark, tgt)

    # the source may SELECT from any registered table (including the
    # target — its scan is pinned to the pre-insert snapshot)
    register_tables(spark, tables)
    if body.lower().startswith("values"):
        src = spark.sql(f"SELECT * FROM {body}")
    else:
        src = spark.sql(body)

    fields = tgt.schema().fields
    data_cols = [f.name for f in fields]
    if col_list is not None:
        cols = [c.strip().strip("`") for c in col_list.split(",")]
        cf = {c.lower(): c for c in data_cols}
        unknown = [c for c in cols if c.lower() not in cf]
        if unknown:
            raise ValueError(
                f"INSERT column list names unknown columns {unknown} "
                f"(target columns: {data_cols})")
        canon = [cf[c.lower()] for c in cols]
        if len(set(canon)) != len(canon):
            dupes = sorted({c for c in canon if canon.count(c) > 1})
            raise ValueError(f"INSERT column list repeats {dupes}")
        missing = [c for c in data_cols if c not in canon]
        if missing:
            raise ValueError(
                f"INSERT column list omits {missing} — the format has "
                "no column defaults, so every target column must be "
                "named (pass NULL explicitly for absent values)")
        if len(src.columns) != len(canon):
            raise ValueError(
                f"INSERT source produces {len(src.columns)} columns for "
                f"a {len(canon)}-column list")
        src = src.toDF(*canon)
    else:
        if len(src.columns) != len(data_cols):
            raise ValueError(
                f"INSERT source produces {len(src.columns)} columns; "
                f"{name} has {len(data_cols)} ({data_cols})")
        src = src.toDF(*data_cols)
    aligned = src.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in fields])

    if mode == "overwrite":
        from open_finance_lakehouse_spark.quality import contracts as qc

        # replace() is the raw maintenance primitive and does not gate on
        # the table contract — but a USER statement must: an OVERWRITE
        # that lands violating rows is the same quiet corruption the
        # append gate exists to stop. Mirror append's tag-once shape so
        # the source evaluates exactly once (a re-evaluated
        # nondeterministic SELECT could pass validation and then stage
        # different rows).
        contract = qc.Contract.from_properties(tgt.meta.properties)
        if contract is not None:
            tagged = qc.tag_violations(aligned, contract).persist()
            try:
                sample = [r.asDict() for r in tagged.filter(
                    F.col(qc.VIOLATION_COL).isNotNull()).limit(5).collect()]
                if sample:
                    raise qc.ContractViolation(
                        f"INSERT OVERWRITE {tgt.meta.name} rejected: "
                        f"contract violations (sample of ≤5): "
                        f"{[r[qc.VIOLATION_COL] for r in sample]}",
                        sample)
                snap = tgt.replace(tagged.drop(qc.VIOLATION_COL))
            finally:
                tagged.unpersist()
        else:
            snap = tgt.replace(aligned)
    else:
        snap = tgt.append(aligned)
    return {"operation": f"insert_{mode}", "table": tgt.meta.name,
            "rows": int(snap.summary.get("added_records", 0)),
            "snapshot_id": snap.snapshot_id}


# ---------------------------------------------------------- ALTER SQL

def _split_types(s: str) -> list[str]:
    """Split a column-spec list on commas outside BOTH ``()`` and ``<>``
    — DDL types nest commas in both (``decimal(10,2)``,
    ``struct<a: int, b: string>``), and ``_split_top`` tracks only
    parens because ``<`` is a comparison operator in its predicate
    grammar."""
    out, buf, depth = [], [], 0
    for c in s:
        if c in "(<":
            depth += 1
        elif c in ")>":
            depth -= 1
        if c == "," and depth == 0:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(c)
    out.append("".join(buf))
    return out


#: maintenance.* values the engine can act on — SET TBLPROPERTIES
#: validates against these so a typo'd knob or value refuses instead of
#: silently riding along until some maintenance job trips over it
_PROP_ENUMS = {
    "maintenance.curve": {"zorder", "hilbert", "none"},
    "maintenance.snr_gate": {"off", "serial", "overlap"},
}


def _parse_prop_pairs(inner: str, ctx: str) -> dict:
    """``'k'='v', ...`` → dict, for TBLPROPERTIES clauses."""
    import re

    props = {}
    # backslash is a PLAIN character in this grammar ('' doubling is the
    # only escape) — a contract value ending in a backslash must not
    # swallow its closing quote
    for item in _split_top(inner, ",", backslash_escapes=False):
        # '' inside a literal is SQL's escaped single quote — a contract
        # check like "codec in ('pcm')" renders (SHOW CREATE TABLE) and
        # re-parses through this doubling
        km = re.fullmatch(
            r"\s*'((?:[^']|'')+)'\s*=\s*'((?:[^']|'')*)'\s*", item)
        if not km:
            raise ValueError(
                f"{ctx}: expected 'key'='value', got {item.strip()!r}")
        props[km.group(1).replace("''", "'")] = \
            km.group(2).replace("''", "'")
    return props


def _validate_maintenance_props(props: dict) -> None:
    """``maintenance.*`` keys validate against the knob registry
    (operators/config.py) — a typo'd knob or off-enum value refuses
    instead of silently riding along until a maintenance job trips.
    The ``contract`` property validates as Contract JSON for the same
    reason: a malformed contract otherwise surfaces as a parse error at
    the first WRITE, statements away from the SET that caused it."""
    from open_finance_lakehouse_spark.operators.config import (
        MAINTENANCE_DEFAULTS,
        _BOOL_KEYS,
        _INT_KEYS,
    )
    from open_finance_lakehouse_spark.quality import contracts as qc

    known = {f"maintenance.{k}" for k in MAINTENANCE_DEFAULTS}
    for k, v in props.items():
        if k == qc.PROPERTY_KEY:
            qc.Contract.from_properties({k: v})  # raises with the shape
            continue
        if not k.startswith("maintenance."):
            continue
        if k not in known:
            raise ValueError(
                f"unknown maintenance property {k!r}; expected one of "
                f"{sorted(known)}")
        short = k[len("maintenance."):]
        if short in _INT_KEYS:
            try:
                int(v)
            except ValueError:
                raise ValueError(f"{k!r} must be an integer, got {v!r}")
        elif short in _BOOL_KEYS and str(v).lower() not in (
                "true", "false", "1", "0", "yes", "no"):
            raise ValueError(f"{k!r} must be boolean, got {v!r}")
        elif k in _PROP_ENUMS and str(v).lower() not in _PROP_ENUMS[k]:
            raise ValueError(
                f"{k!r} must be one of {sorted(_PROP_ENUMS[k])}, "
                f"got {v!r}")


def run_alter(
    spark: SparkSession,
    statement: str,
    tables: dict[str, "str | LakeTable"],
) -> dict:
    """``ALTER TABLE`` lowered onto the engine's evolution primitives —
    the DDL statements a Delta/Iceberg user types, routed to the right
    machinery for each shape:

    - ``ADD COLUMN[S] [(]c1 TYPE[, ...][)]`` and ``ALTER COLUMN c TYPE t``
      → ``update_schema``: METADATA-ONLY commits (add / widen never move
      bytes — old files project NULL / upcast at read);
    - ``DROP COLUMN c`` and ``RENAME COLUMN a TO b`` →
      ``rewrite_schema``: COPY-ON-WRITE (frost's name-keyed schema has no
      Iceberg field-ids, so these must rewrite bytes — one atomic
      replace snapshot, concurrent appends conflict loudly);
    - ``SET/UNSET TBLPROPERTIES ('k'='v', ...)`` → ``set_properties``:
      a CAS properties commit. ``maintenance.*`` keys validate against
      the knob registry (operators/config.py) — ints parse, enums match
      — because a typo'd knob silently falling back to defaults is the
      exact failure the registry exists to prevent; other namespaces
      (``contract``, user metadata) store as-is, Delta-style.
    - ``ADD CONSTRAINT <name> CHECK (<expr>)`` / ``DROP CONSTRAINT
      [IF EXISTS] <name>`` → the named check joins the table's contract
      (one property, so every writer enforces it). Delta's discipline:
      the expression must analyze boolean against the table schema AND
      every existing row must already satisfy it (NULL passes — require
      values via ``not_null``), or the ADD refuses with a row sample.

    Widening/narrowing rules, partition-column protection, and the
    rewrite's snapshot semantics are the primitives' own (see their
    docstrings); this front door only parses and routes.
    """
    import re

    s = statement.strip().rstrip(";").strip()
    m = re.match(rf"alter\s+table\s+({_IDENT})\s+(.+)$", s, re.I | re.S)
    if not m:
        raise ValueError(
            f"run_alter handles ALTER TABLE <t> ...; got: {statement[:80]!r}")
    name, rest = m.group(1), m.group(2).strip()
    if name not in tables:
        raise ValueError(f"ALTER target {name!r} not in tables; "
                         f"known: {sorted(tables)}")
    tgt = tables[name]
    if not isinstance(tgt, LakeTable):
        tgt = LakeTable.load(spark, tgt)
    fields = tgt.schema().fields
    cf = {f.name.lower(): f.name for f in fields}

    def ddl_of(parts: "list[tuple[str, str]]") -> str:
        return ", ".join(f"`{n}` {t}" for n, t in parts)

    cur = [(f.name, f.dataType.simpleString()) for f in fields]

    m = re.match(r"add\s+columns?\s+(.+)$", rest, re.I | re.S)
    if m:
        inner = m.group(1).strip()
        if inner.startswith("(") and inner.endswith(")"):
            inner = inner[1:-1]
        adds = []
        for spec in _split_types(inner):
            cm = re.match(rf"\s*`?({_IDENT})`?\s+(.+?)\s*$", spec, re.S)
            if not cm:
                raise ValueError(f"ADD COLUMNS: cannot parse {spec!r} "
                                 "as '<name> <type>'")
            cn, ct = cm.group(1), " ".join(cm.group(2).split())
            if cn.lower() in cf:
                raise ValueError(f"ADD COLUMNS: {cn!r} already exists "
                                 f"(as {cf[cn.lower()]!r})")
            adds.append((cn, ct))
        dup = {c for c, _ in adds if [x for x, _ in adds].count(c) > 1}
        if dup:
            raise ValueError(f"ADD COLUMNS repeats {sorted(dup)}")
        tgt.update_schema(ddl_of(cur + adds))
        return {"operation": "add_columns", "table": tgt.meta.name,
                "added": [c for c, _ in adds]}

    m = re.match(rf"alter\s+column\s+`?({_IDENT})`?\s+type\s+(.+)$",
                 rest, re.I | re.S)
    if m:
        cn = m.group(1)
        if cn.lower() not in cf:
            raise ValueError(f"ALTER COLUMN: no column {cn!r} in "
                             f"{[c for c, _ in cur]}")
        cn = cf[cn.lower()]
        nt = " ".join(m.group(2).split())
        tgt.update_schema(ddl_of(
            [(c, nt if c == cn else t) for c, t in cur]))
        return {"operation": "alter_column_type", "table": tgt.meta.name,
                "column": cn, "type": nt}

    m = re.match(rf"drop\s+column\s+`?({_IDENT})`?$", rest, re.I)
    if m:
        cn = m.group(1)
        if cn.lower() not in cf:
            raise ValueError(f"DROP COLUMN: no column {cn!r} in "
                             f"{[c for c, _ in cur]}")
        cn = cf[cn.lower()]
        snap = tgt.rewrite_schema(ddl_of(
            [(c, t) for c, t in cur if c != cn]))
        return {"operation": "drop_column", "table": tgt.meta.name,
                "column": cn, "snapshot_id": snap.snapshot_id}

    m = re.match(rf"rename\s+column\s+`?({_IDENT})`?\s+to\s+`?({_IDENT})`?$",
                 rest, re.I)
    if m:
        old, new = m.group(1), m.group(2)
        if old.lower() not in cf:
            raise ValueError(f"RENAME COLUMN: no column {old!r} in "
                             f"{[c for c, _ in cur]}")
        old = cf[old.lower()]
        if new.lower() in cf and new.lower() != old.lower():
            raise ValueError(f"RENAME COLUMN: {new!r} already exists")
        snap = tgt.rewrite_schema(
            ddl_of([(new if c == old else c, t) for c, t in cur]),
            mapping={new: old})
        return {"operation": "rename_column", "table": tgt.meta.name,
                "renamed": {old: new}, "snapshot_id": snap.snapshot_id}

    m = re.match(rf"add\s+constraint\s+`?({_IDENT})`?\s+check\s*\((.+)\)$",
                 rest, re.I | re.S)
    if m:
        from pyspark.sql import functions as F

        from open_finance_lakehouse_spark.quality import contracts as qc

        # strip only — collapsing interior whitespace would corrupt
        # string literals inside the expression ('a  b' != 'a b')
        cname, expr = m.group(1), m.group(2).strip()
        c = qc.Contract.from_properties(tgt.meta.properties) or qc.Contract()
        clash = next((k for k in c.checks if k.lower() == cname.lower()),
                     None)
        if clash is not None:
            raise ValueError(
                f"ADD CONSTRAINT: {tgt.meta.name} already has a CHECK "
                f"constraint {clash!r} ({c.checks[clash]!r}); DROP it "
                "first to replace it")
        # the expression must analyze against the TABLE schema and be
        # boolean NOW — stored unvalidated it explodes at the first
        # write, statements away from the typo
        try:
            probe = tgt._empty_df().selectExpr(f"({expr}) AS __check")
        except Exception as e:
            raise ValueError(
                f"ADD CONSTRAINT {cname}: CHECK expression {expr!r} does "
                f"not analyze against the table schema: {e}") from e
        dt = probe.schema[0].dataType.simpleString()
        if dt != "boolean":
            raise ValueError(
                f"ADD CONSTRAINT {cname}: CHECK expression {expr!r} is "
                f"{dt}, not boolean")
        # Delta's ADD CONSTRAINT discipline: EXISTING rows must already
        # satisfy the constraint, else the table would be in violation
        # of its own declared contract from the first second. NULL
        # results pass (the write gate's semantics, see tag_violations).
        show = [f.name for f in fields
                if f.dataType.simpleString() != "binary"][:4]
        try:
            # also rejects expressions legal in SELECT but not per-row
            # (aggregates/windows): the write gate evaluates the check
            # row-wise, so it must be filterable
            bad = (tgt.scan().filter(F.expr(f"({expr})") == F.lit(False))
                   .select(*show).limit(5).collect())
        except Exception as e:
            raise ValueError(
                f"ADD CONSTRAINT {cname}: CHECK expression {expr!r} is "
                f"not a per-row predicate: {e}") from e
        if bad:
            raise ValueError(
                f"ADD CONSTRAINT {cname}: existing rows violate {expr!r} "
                f"(sample of ≤5): {[r.asDict() for r in bad]}")
        checked_sid = tgt.meta.current_snapshot_id

        # the merge happens INSIDE the commit CAS against commit-time
        # properties: composing the new contract from the handle's stale
        # snapshot would silently drop a concurrent ADD/DROP CONSTRAINT
        # when this commit wins the retry, and rows appended between the
        # pre-check above and the commit would dodge validation
        def xf(props: dict, meta) -> dict:
            cc = qc.Contract.from_properties(props) or qc.Contract()
            cl2 = next((k for k in cc.checks
                        if k.lower() == cname.lower()), None)
            if cl2 is not None:
                raise ValueError(
                    f"ADD CONSTRAINT: {tgt.meta.name} already has a CHECK "
                    f"constraint {cl2!r} ({cc.checks[cl2]!r}); DROP it "
                    "first to replace it")
            if meta.current_snapshot_id != checked_sid:
                # scan through a FRESH handle: the issuing handle's
                # metadata may predate the commit-time snapshot id
                fresh = LakeTable.load(spark, tgt.location)
                n_bad = (fresh.scan(snapshot_id=meta.current_snapshot_id)
                         .filter(F.expr(f"({expr})") == F.lit(False))
                         .limit(1).count())
                if n_bad:
                    raise ValueError(
                        f"ADD CONSTRAINT {cname}: rows committed "
                        f"concurrently violate {expr!r}")
            cc.checks[cname] = expr
            out = dict(props)
            out[qc.PROPERTY_KEY] = cc.to_property()
            return out

        tgt.set_properties(transform=xf)
        return {"operation": "add_constraint", "table": tgt.meta.name,
                "constraint": cname, "check": expr}

    m = re.match(rf"drop\s+constraint\s+(if\s+exists\s+)?`?({_IDENT})`?$",
                 rest, re.I)
    if m:
        from open_finance_lakehouse_spark.quality import contracts as qc

        if_exists, cname = bool(m.group(1)), m.group(2)
        c = qc.Contract.from_properties(tgt.meta.properties)
        key = next((k for k in (c.checks if c else {})
                    if k.lower() == cname.lower()), None)
        if key is None:
            if if_exists:
                return {"operation": "drop_constraint",
                        "table": tgt.meta.name, "dropped": None}
            raise ValueError(
                f"DROP CONSTRAINT: no CHECK constraint {cname!r} on "
                f"{tgt.meta.name}; have: {sorted(c.checks) if c else []}")
        # resolve + delete INSIDE the commit CAS: a contract composed
        # from the handle's snapshot would resurrect a concurrently
        # dropped sibling constraint (or drop a concurrently added one)
        # when this commit wins the retry
        def xf(props: dict, meta) -> dict:
            cc = qc.Contract.from_properties(props)
            k2 = next((k for k in (cc.checks if cc else {})
                       if k.lower() == cname.lower()), None)
            if k2 is None:
                # raced away since the pre-check; dropping an absent
                # constraint is the statement's goal state
                return props
            del cc.checks[k2]
            out = dict(props)
            if cc.empty():
                # an all-empty contract unsets the property so writers
                # keep the no-contract fast path (append commits without
                # the tag-violations job)
                out.pop(qc.PROPERTY_KEY, None)
            else:
                out[qc.PROPERTY_KEY] = cc.to_property()
            return out

        tgt.set_properties(transform=xf)
        return {"operation": "drop_constraint", "table": tgt.meta.name,
                "dropped": key}

    m = re.match(r"(un)?set\s+tblproperties\s*\((.+)\)$", rest, re.I | re.S)
    if m:
        unsetting = m.group(1) is not None
        if unsetting:
            keys = []
            for item in _split_top(m.group(2), ","):
                km = re.fullmatch(r"\s*'([^']+)'\s*", item)
                if not km:
                    raise ValueError(
                        f"UNSET TBLPROPERTIES: expected 'key', got "
                        f"{item.strip()!r}")
                keys.append(km.group(1))
            tgt.set_properties(unset=keys)
            return {"operation": "unset_tblproperties",
                    "table": tgt.meta.name, "unset": keys}
        props = _parse_prop_pairs(m.group(2), "SET TBLPROPERTIES")
        _validate_maintenance_props(props)
        tgt.set_properties(set_props=props)
        return {"operation": "set_tblproperties", "table": tgt.meta.name,
                "set": props}

    raise ValueError(
        "run_alter handles ADD COLUMN[S], ALTER COLUMN ... TYPE, DROP "
        "COLUMN, RENAME COLUMN ... TO, ADD CONSTRAINT ... CHECK (...), "
        "DROP CONSTRAINT [IF EXISTS], and SET/UNSET TBLPROPERTIES; "
        f"got: ALTER TABLE {name} {rest[:60]!r}")


# ----------------------------------------------------- CREATE/DROP SQL


def run_create_table(
    spark: SparkSession,
    statement: str,
    tables: dict[str, "str | LakeTable"],
) -> dict:
    """``CREATE TABLE`` lowered onto ``LakeTable.create`` — the last
    lifecycle statement the SQL surface lacked. Grammar (clauses in the
    standard order users type them)::

        CREATE TABLE [IF NOT EXISTS] <t>
            [(c1 TYPE, ...)]                      -- omitted for CTAS
            [USING frost]
            [PARTITIONED BY (bucket(<n>, <col>))]
            [LOCATION '<path>']
            [TBLPROPERTIES ('k'='v', ...)]
            [AS SELECT ...]                       -- CTAS

    The engine is path-addressed (no catalog): the table's location is
    the ``LOCATION`` clause, or the path the name is registered to in
    ``tables`` (CLI ``--register name=path`` where nothing exists yet).
    ``PARTITIONED BY`` takes the Iceberg bucket transform — the only
    spec the format defines. CTAS derives the schema from the SELECT
    (explicit column defs + AS together refuse, as in Spark) and lands
    the rows as the first append; ``TBLPROPERTIES`` pass through
    ``maintenance.*`` validation like ALTER's SET. ``IF NOT EXISTS`` on
    an existing table is a no-op returning ``created: False`` — without
    it, an existing table refuses (the format never overwrites
    metadata).
    """
    import re

    s = statement.strip().rstrip(";").strip()
    m = re.match(
        rf"create\s+table\s+(if\s+not\s+exists\s+)?({_IDENT})\s*(.*)$",
        s, re.I | re.S)
    if not m:
        raise ValueError(
            f"run_create_table handles CREATE TABLE [IF NOT EXISTS] "
            f"<t> ...; got: {statement[:80]!r}")
    if_not_exists, name, rest = bool(m.group(1)), m.group(2), m.group(3)

    # optional leading balanced-paren column block (absent for pure CTAS)
    ddl = None
    rest = rest.lstrip()
    if rest.startswith("("):
        depth, i = 0, 0
        for i, c in enumerate(rest):
            depth += (c == "(") - (c == ")")
            if depth == 0:
                break
        if depth != 0:
            raise ValueError("CREATE TABLE: unbalanced column list parens")
        inner = rest[1:i]
        parts = []
        for spec in _split_types(inner):
            cm = re.match(rf"\s*`?({_IDENT})`?\s+(.+?)\s*$", spec, re.S)
            if not cm:
                raise ValueError(f"CREATE TABLE: cannot parse {spec!r} "
                                 "as '<name> <type>'")
            parts.append((cm.group(1), " ".join(cm.group(2).split())))
        ddl = ", ".join(f"`{n}` {t}" for n, t in parts)
        rest = rest[i + 1:].lstrip()

    um = re.match(r"using\s+(\w+)\s*", rest, re.I)
    if um:
        if um.group(1).lower() != "frost":
            raise ValueError(
                f"USING {um.group(1)} — this engine's format is 'frost'")
        rest = rest[um.end():]

    spec = None
    pm = re.match(
        rf"partitioned\s+by\s*\(\s*bucket\s*\(\s*(\d+)\s*,\s*"
        rf"`?({_IDENT})`?\s*\)\s*\)\s*", rest, re.I)
    if pm:
        spec = {"kind": "bucket", "column": pm.group(2),
                "num_buckets": int(pm.group(1))}
        rest = rest[pm.end():]
    elif re.match(r"partitioned\s+by\b", rest, re.I):
        raise ValueError(
            "PARTITIONED BY takes the bucket transform — "
            "PARTITIONED BY (bucket(<n>, <column>)) — the only partition "
            "spec the format defines")

    location = None
    # '' is an escaped quote inside the literal (SQL-style, matching
    # SHOW CREATE TABLE's renderer) — [^']+ alone would stop a path
    # like /data/o'brien at the quote and choke on the remainder
    lm = re.match(r"location\s+'((?:[^']|'')+)'\s*", rest, re.I)
    if lm:
        location = lm.group(1).replace("''", "'")
        rest = rest[lm.end():]

    props = None
    tm = re.match(r"tblproperties\s*\(", rest, re.I)
    if tm:
        # quote-aware scan: property VALUES may contain parens
        # ('comment'='uses (parens)') — a blind depth count would close
        # the clause inside the literal
        depth, j, in_q = 0, tm.end() - 1, False
        for j in range(tm.end() - 1, len(rest)):
            c = rest[j]
            if c == "'":
                in_q = not in_q
            elif not in_q:
                depth += (c == "(") - (c == ")")
                if depth == 0:
                    break
        if depth != 0 or in_q:
            raise ValueError("CREATE TABLE: unbalanced TBLPROPERTIES")
        props = _parse_prop_pairs(rest[tm.end():j], "TBLPROPERTIES")
        _validate_maintenance_props(props)
        rest = rest[j + 1:].lstrip()

    ctas = None
    am = re.match(r"as\s+((?:select|with)\b.*)$", rest, re.I | re.S)
    if am:
        ctas = am.group(1)
    elif rest.strip():
        raise ValueError(
            f"CREATE TABLE: unrecognized trailing clause {rest[:60]!r}")

    if ddl is None and ctas is None:
        raise ValueError(
            "CREATE TABLE needs a column list or AS SELECT (CTAS)")
    if ddl is not None and ctas is not None:
        raise ValueError(
            "CREATE TABLE: explicit column defs and AS SELECT are "
            "mutually exclusive (CTAS derives the schema)")

    if location is None:
        reg = tables.get(name)
        if isinstance(reg, str):
            location = reg
        elif isinstance(reg, LakeTable):
            location = reg.location
        else:
            raise ValueError(
                f"CREATE TABLE {name}: the engine is path-addressed — "
                "give a LOCATION '<path>' clause or register the name "
                "to a path (CLI: --register name=path)")

    try:
        existing = LakeTable.load(spark, location)
    except FileNotFoundError:
        existing = None
    if existing is not None:
        if if_not_exists:
            return {"operation": "create_table", "table": name,
                    "location": location, "created": False}
        raise ValueError(
            f"CREATE TABLE {name}: a table already exists at "
            f"{location} (the format never overwrites metadata; use "
            "IF NOT EXISTS for create-if-absent)")

    src = None
    if ctas is not None:
        register_tables(spark, tables)
        src = spark.sql(ctas)
        ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                        for f in src.schema.fields)
        if spec and spec["column"] not in src.columns:
            raise ValueError(
                f"PARTITIONED BY column {spec['column']!r} not in the "
                f"CTAS output {src.columns}")

    t = LakeTable.create(spark, location, name, ddl,
                         partition_spec=spec, properties=props)
    out = {"operation": "create_table", "table": name,
           "location": location, "created": True, "rows": 0}
    if src is not None:
        snap = t.append(src)
        out["rows"] = int(snap.summary.get("added_records", 0))
    return out


def run_drop_table(
    spark: SparkSession,
    statement: str,
    tables: dict[str, "str | LakeTable"],
) -> dict:
    """``DROP TABLE [IF EXISTS] <t> PURGE`` — deletes the table tree.

    The engine is path-addressed with no catalog, so a bare ``DROP
    TABLE`` has nothing to deregister and the only meaningful drop is
    deleting bytes — which is why ``PURGE`` is REQUIRED (Hive's
    skip-the-trash keyword): an irreversible statement must say so
    explicitly. ``IF EXISTS`` makes a missing table a no-op."""
    import re
    import shutil

    s = statement.strip().rstrip(";").strip()
    m = re.fullmatch(
        rf"drop\s+table\s+(if\s+exists\s+)?({_IDENT})(\s+purge)?",
        s, re.I)
    if not m:
        raise ValueError(
            f"run_drop_table handles DROP TABLE [IF EXISTS] <t> PURGE; "
            f"got: {statement[:80]!r}")
    if_exists, name, purge = bool(m.group(1)), m.group(2), bool(m.group(3))
    if not purge:
        raise ValueError(
            "DROP TABLE without PURGE has no effect here: the engine is "
            "path-addressed (no catalog entry to remove). Add PURGE to "
            "delete the table tree — this is irreversible")
    reg = tables.get(name)
    if isinstance(reg, LakeTable):
        location = reg.location
    elif isinstance(reg, str):
        location = reg
    elif if_exists:
        return {"operation": "drop_table", "table": name, "dropped": False}
    else:
        raise ValueError(f"DROP TABLE {name!r}: not in tables; "
                         f"known: {sorted(tables)}")
    try:
        LakeTable.load(spark, location)
    except FileNotFoundError:
        if if_exists:
            return {"operation": "drop_table", "table": name,
                    "dropped": False}
        raise ValueError(f"DROP TABLE {name}: no table at {location}")
    shutil.rmtree(location)
    return {"operation": "drop_table", "table": name,
            "location": location, "dropped": True}


# ------------------------------------------------------ maintenance SQL

#: the clustering key interleaves exactly these axes (functions/curves.py
#: pins the bit layout); ``OPTIMIZE ... ZORDER BY`` validates against them
#: so a typo'd column list refuses instead of silently clustering on
#: something else
CURVE_AXES = ("clip_id", "dur_ms", "sr_hz")

#: Delta's default VACUUM retention — the SQL surface keeps it so a bare
#: ``VACUUM t`` is as safe here as there (concurrent writers' staged files
#: and recent time-travel reads survive); tests/benches pass RETAIN 0 HOURS
DEFAULT_VACUUM_RETAIN_HOURS = 168

#: Delta refuses ``VACUUM ... RETAIN n HOURS`` below its default horizon
#: unless ``spark.databricks.delta.retentionDurationCheck.enabled=false``
#: — a short horizon silently breaks concurrent writers (their staged
#: files age out of the grace window) and time-travel readers. Same
#: contract here, under the engine's conf prefix.
VACUUM_RETENTION_CHECK_CONF = "spark.ofl.vacuum.retentionCheck.enabled"


def run_maintenance_sql(
    spark: SparkSession,
    statement: str,
    tables: dict[str, "str | LakeTable"],
    ledger=None,
    job_id: str | None = None,
) -> "dict | DataFrame":
    """Lower the maintenance statements a Delta/Iceberg user types onto
    the maintenance operators — the last SQL surface the reference's
    silver lane uses that the DML triad (DELETE/UPDATE/MERGE) left out
    (/root/reference/ofl/transform/spark/silver.py:368-373 runs literal
    ``OPTIMIZE ... ZORDER BY`` and ``VACUUM ... RETAIN n HOURS``).

    Grammar (case-insensitive, trailing ``;`` tolerated)::

        OPTIMIZE <t>                            -> compact (bin-packing)
        OPTIMIZE <t> ZORDER BY (c1, c2, c3)     -> cluster_global zorder
        VACUUM <t> [RETAIN <n> HOURS] [DRY RUN] -> expire + orphan GC
        DESCRIBE HISTORY <t>                    -> history() DataFrame
        DESCRIBE DETAIL <t>                     -> inventory/layout dict
        SHOW TBLPROPERTIES <t> [('key')]        -> properties dict
        SHOW CREATE TABLE <t>                   -> round-trippable DDL
        SHOW PARTITIONS <t>                     -> per-partition inventory
        RESTORE [TABLE] <t> TO VERSION AS OF <snapshot_id>
        RESTORE [TABLE] <t> TO TIMESTAMP AS OF <epoch_ms>

    Semantics and knobs follow the CLI lanes exactly (flags > declared
    ``maintenance.*`` table config > defaults): OPTIMIZE reads the
    table's declared target size, ZORDER BY requires the engine's pinned
    curve axes (any order) because the bit-interleave layout is part of
    the table contract, and VACUUM maps ``RETAIN n HOURS`` onto BOTH
    halves of the two-phase expire — snapshots older than the horizon
    expire, and the GC grace window equals the horizon so files a
    concurrent writer staged inside it survive (Delta's retention
    contract). A horizon below the 168 h default refuses unless
    ``spark.ofl.vacuum.retentionCheck.enabled=false`` (Delta's
    retentionDurationCheck — a typo'd ``RETAIN 0`` must not eat a
    concurrent writer's staged files). ``VACUUM ... DRY RUN`` is a pure
    preview: no snapshot expires, no file deletes; it returns the
    would-expire snapshot ids plus the table-relative orphan paths the
    REAL run would then remove — reachability is computed as if the
    would-expire set were already gone, so files held only by expiring
    snapshots show up (Delta's DRY RUN shape). RESTORE takes ``VERSION AS OF``
    a snapshot id (frost versions ARE snapshot ids) or ``TIMESTAMP AS
    OF`` epoch milliseconds — the engine-wide time-travel convention
    (``asOfTimestampMs``); the rollback is itself a new CAS-committed
    snapshot, so it is concurrency-safe and revertable.

    OPTIMIZE and VACUUM mutate through checkpointed jobs and require
    ``ledger``; DESCRIBE HISTORY is read-only and RESTORE is a pure
    metadata commit — both run without one.
    """
    import re
    import time

    def resolve(name: str) -> LakeTable:
        if name not in tables:
            raise ValueError(
                f"maintenance SQL references unknown table {name!r}; "
                f"known: {sorted(tables)}")
        t = tables[name]
        return t if isinstance(t, LakeTable) else LakeTable.load(spark, t)

    def need_ledger(verb: str):
        if ledger is None:
            raise ValueError(
                f"{verb} runs a checkpointed maintenance job and needs a "
                "ledger (CLI: pass --ledger)")

    s = statement.strip().rstrip(";").strip()

    m = re.fullmatch(
        rf"optimize\s+({_IDENT})"
        rf"(?:\s+zorder\s+by\s*\(([^)]+)\))?", s, re.I)
    if m:
        from open_finance_lakehouse_spark.operators.config import (
            maintenance_config,
        )

        name = m.group(1)
        table = resolve(name)
        need_ledger("OPTIMIZE")
        cfg = maintenance_config(table)
        jid = job_id or f"sql-optimize-{name}"
        if m.group(2) is None:
            from open_finance_lakehouse_spark.operators.compact import (
                compact,
            )

            return compact(table, ledger, jid,
                           target_bytes=cfg["target_bytes"])
        cols = [c.strip() for c in m.group(2).split(",")]
        # SQL identifiers are case-insensitive — `ZORDER BY (DUR_MS, ...)`
        # is the same statement as the lowercase spelling
        if sorted(c.lower() for c in cols) != sorted(CURVE_AXES):
            raise ValueError(
                f"ZORDER BY {cols} — the clustering key interleaves "
                f"exactly {list(CURVE_AXES)} (any order); other column "
                "sets would need a different bit layout, which is part "
                "of the table contract")
        from open_finance_lakehouse_spark.operators.cluster import (
            cluster_global,
        )

        return cluster_global(table, ledger, jid, curve="zorder",
                              target_bytes=cfg["target_bytes"])

    m = re.fullmatch(
        rf"vacuum\s+({_IDENT})"
        rf"(?:\s+retain\s+(\d+)\s+hours?)?"
        rf"(\s+dry\s+run)?", s, re.I)
    if m:
        from open_finance_lakehouse_spark.operators.config import (
            maintenance_config,
        )

        name = m.group(1)
        table = resolve(name)
        hours = (int(m.group(2)) if m.group(2) is not None
                 else DEFAULT_VACUUM_RETAIN_HOURS)
        if (hours < DEFAULT_VACUUM_RETAIN_HOURS
                and str(spark.conf.get(VACUUM_RETENTION_CHECK_CONF,
                                       "true")).lower() != "false"):
            # Delta's retentionDurationCheck: a sub-default horizon can
            # delete files a concurrent writer staged minutes ago and
            # break readers time-travelling inside it — demand an
            # explicit opt-out rather than honoring a typo'd 0
            raise ValueError(
                f"VACUUM {name} RETAIN {hours} HOURS is below the "
                f"default {DEFAULT_VACUUM_RETAIN_HOURS} h horizon; "
                "concurrent writers' staged files and time-travel "
                "readers inside the window would break. Set "
                f"{VACUUM_RETENTION_CHECK_CONF}=false to allow it")
        horizon_ms = hours * 3_600_000
        cfg = maintenance_config(table)
        now_ms = int(time.time() * 1000)
        if m.group(3):
            # preview: nothing expires, nothing deletes. The REAL run
            # expires snapshots first and THEN walks reachability, so a
            # faithful preview must compute reachability AS IF the
            # would-expire set were gone — otherwise files held only by
            # expiring snapshots are invisible to the dry run yet
            # deleted by the run it claims to preview
            would = table.would_expire(
                retain_last=cfg["retain_last"],
                older_than_ms=now_ms - horizon_ms)
            orphans = table.delete_orphans(
                grace_ms=horizon_ms, dry_run=True,
                exclude_snapshots=set(would))
            return {"operation": "vacuum", "table": table.meta.name,
                    "dry_run": True, "retain_hours": hours,
                    "would_expire_snapshots": would,
                    "orphans": sorted(orphans)}
        from open_finance_lakehouse_spark.operators.expire import expire

        need_ledger("VACUUM")
        return expire(table, ledger, job_id or f"sql-vacuum-{name}",
                      retain_last=cfg["retain_last"],
                      older_than_ms=now_ms - horizon_ms,
                      gc_grace_ms=horizon_ms)

    m = re.fullmatch(rf"describe\s+history\s+({_IDENT})", s, re.I)
    if m:
        from pyspark.sql import functions as F

        return resolve(m.group(1)).history().orderBy(
            F.desc("sequence_number"))

    m = re.fullmatch(rf"describe\s+detail\s+({_IDENT})", s, re.I)
    if m:
        from pyspark.sql import functions as F

        table = resolve(m.group(1))
        # inventory totals as Spark-side aggregates over the manifest
        # relation — DESCRIBE DETAIL on a million-file table must not
        # walk files on the driver
        agg = (table.files_df()
               .agg(F.count("*").alias("nf"),
                    F.sum("file_size_bytes").alias("b"),
                    F.sum("record_count").alias("r"))
               .first())
        spec = table.meta.partition_spec or {}
        return {
            "format": "frost",
            "name": table.meta.name,
            "location": table.location,
            "partition_spec": spec,
            "partition_columns": ([spec["column"]] if spec else []),
            "num_files": int(agg["nf"] or 0),
            "size_in_bytes": int(agg["b"] or 0),
            "num_records": int(agg["r"] or 0),
            "current_snapshot_id": table.current_snapshot_id(),
            "num_snapshots": len(table.meta.snapshots),
            "schema": table.meta.schema_ddl,
            "properties": dict(table.meta.properties),
        }

    m = re.fullmatch(
        rf"show\s+tblproperties\s+({_IDENT})(?:\s*\(\s*'([^']+)'\s*\))?",
        s, re.I)
    if m:
        table = resolve(m.group(1))
        props = dict(table.meta.properties)
        if m.group(2) is not None:
            k = m.group(2)
            if k not in props:
                raise ValueError(
                    f"table {table.meta.name} has no property {k!r}; "
                    f"set: {sorted(props)}")
            return {"operation": "show_tblproperties",
                    "table": table.meta.name, "properties": {k: props[k]}}
        return {"operation": "show_tblproperties",
                "table": table.meta.name, "properties": props}

    m = re.fullmatch(rf"show\s+partitions\s+({_IDENT})", s, re.I)
    if m:
        from pyspark.sql import functions as F

        table = resolve(m.group(1))
        if not table.meta.partition_spec:
            raise ValueError(
                f"SHOW PARTITIONS: table {table.meta.name} is not "
                "partitioned")
        # one grouped aggregate over the manifest relation — O(partitions)
        # rows reach the driver, never O(files)
        rows = (table.files_df()
                .groupBy("partition")
                .agg(F.count("*").alias("num_files"),
                     F.sum("file_size_bytes").alias("size_in_bytes"),
                     F.sum("record_count").alias("num_records"))
                # bucket values are unpadded numeric STRINGS: a lexical
                # sort reads '0','1','10','11',...,'2' past 9 buckets
                .orderBy(F.col("partition").cast("int"), "partition")
                .collect())
        return {"operation": "show_partitions", "table": table.meta.name,
                "partition_spec": dict(table.meta.partition_spec),
                "partitions": [r.asDict() for r in rows]}

    m = re.fullmatch(rf"show\s+create\s+table\s+({_IDENT})", s, re.I)
    if m:
        table = resolve(m.group(1))
        # the rendered statement ROUND-TRIPS through run_create_table:
        # every clause is the grammar that function parses, and property
        # values escape embedded single quotes SQL-style ('')
        def esc(v: str) -> str:
            return str(v).replace("'", "''")

        cols = ",\n".join(
            f"  `{f.name}` {f.dataType.simpleString()}"
            for f in table.schema().fields)
        lines = [f"CREATE TABLE {table.meta.name} (", cols,
                 ") USING frost"]
        spec = table.meta.partition_spec
        if spec:
            lines.append(f"PARTITIONED BY (bucket({spec['num_buckets']}, "
                         f"{spec['column']}))")
        lines.append(f"LOCATION '{esc(table.location)}'")
        props = dict(table.meta.properties)
        if props:
            body = ",\n  ".join(f"'{esc(k)}'='{esc(v)}'"
                                for k, v in sorted(props.items()))
            lines.append(f"TBLPROPERTIES (\n  {body})")
        return {"operation": "show_create_table",
                "table": table.meta.name,
                "statement": "\n".join(lines)}

    m = re.fullmatch(
        rf"restore\s+(?:table\s+)?({_IDENT})\s+to\s+"
        rf"(version|timestamp)\s+as\s+of\s+(\d+)", s, re.I)
    if m:
        table = resolve(m.group(1))
        n = int(m.group(3))
        sid = (n if m.group(2).lower() == "version"
               else table.snapshot_id_as_of(n))
        snap = table.rollback(sid)
        return {"operation": "restore", "table": table.meta.name,
                "restored_to": sid,
                "new_snapshot_id": snap.snapshot_id}

    raise ValueError(
        "run_maintenance_sql handles OPTIMIZE [ZORDER BY (...)], VACUUM "
        "[RETAIN n HOURS] [DRY RUN], DESCRIBE HISTORY|DETAIL, SHOW "
        "TBLPROPERTIES, SHOW CREATE TABLE, SHOW PARTITIONS, and RESTORE "
        f"[TABLE] <t> TO VERSION|TIMESTAMP AS OF <n>; got: "
        f"{statement[:80]!r}")
