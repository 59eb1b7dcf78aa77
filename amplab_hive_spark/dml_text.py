"""SQL-text front-end for UPDATE / DELETE / MERGE statements.

The reference accepts row-level DML as STATEMENTS —
``ql/parse/UpdateDeleteSemanticAnalyzer.java:76`` rewrites
``UPDATE t SET ... WHERE ...`` and ``DELETE FROM t WHERE ...`` into
``INSERT ... SELECT`` over the same table (and Hive 2.2's
MergeSemanticAnalyzer does the same for MERGE). This repo implements
the identical semantics as Python verbs (ddl.update_table /
delete_from / merge_into — partition-scoped copy-on-write); this
module closes the remaining STATEMENT-surface gap: a recognizer that
routes the three DML statement forms to those verbs, so
``Engine.sql("UPDATE ...")`` works the way a reference user expects.
Everything after recognition — discovery scans, partition scoping,
cardinality checks, crash-window semantics — is exactly the
documented verb behavior; this file contains no execution logic.

Grammar accepted (documented constraints, mirrored in tests):

- ``UPDATE <table> SET col = expr[, ...] [WHERE <cond>]``
- ``DELETE FROM <table> [WHERE <cond>]``
- ``MERGE INTO <table> [AS] [<talias>] USING (<subquery>)|<table>
  [AS] [<salias>] ON <cond>
  [WHEN MATCHED [AND <cond>] THEN DELETE]
  [WHEN MATCHED [AND <cond>] THEN UPDATE SET col = expr[, ...]]
  [WHEN NOT MATCHED [AND <cond>] THEN
     INSERT [(cols)] VALUES (exprs) | INSERT *]``

All keyword boundaries (WHERE, ON..WHEN, WHEN..WHEN, AND..THEN, the
USING source) are found by a quote- and paren-aware scanner, never
by bare regex over the whole text — string literals containing
keywords, commas, or ``alias.`` prefixes pass through intact.
Aliases in MERGE expressions are normalized to the ``t.``/``s.``
convention merge_into uses via unique placeholder tokens in one
logical pass (a user alias literally named ``t`` or ``s`` — even
swapped — cannot collide with the canonical names), OUTSIDE string
literals only, and a bare table name acts as a qualifier only when
that side has no explicit alias (standard SQL: the alias hides the
table name). Both MATCHED-clause orders are accepted with ANSI
first-matching-clause semantics, composed onto merge_into's fixed
delete-before-update evaluation: DELETE-first passes through
directly; UPDATE-first folds ``NOT <update guard>`` into the delete
condition. Hive 2.2's MergeSemanticAnalyzer rule is enforced either
way: when two MATCHED clauses are present the FIRST must carry AND
(the second would be unreachable otherwise). Statements that do not
start with one of the three keywords pass through untouched
(handle() returns None).

Write-path selection (r8): a merge-on-read table — pinned keys
(acid.pin_mor_keys) or TBLPROPERTIES ('transactional'='true',
'merge_keys'=...) — routes UPDATE/DELETE statements through
acid.update_mor/delete_mor (delta files, no base rewrite); other
tables take the copy-on-write verbs. Exactly how the reference picks
the ACID path off the table property (ql/io/AcidUtils.java). MERGE
is copy-on-write only and REFUSES a merge-on-read table (either
trigger) rather than mixing write models. One more statement form is
recognized: HiveQL's ``ALTER TABLE t COMPACT 'major'|'minor'`` runs
acid.compact_mor in that mode (major folds deltas into the base,
minor consolidates deltas without a base rewrite), and ``SHOW
COMPACTIONS`` lists the pending inline-compaction work per
merge-on-read table (acid.show_compactions); every other statement
passes through untouched (handle() returns None).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from amplab_hive_spark.session import local_result


def _is_word_at(s: str, i: int, word: str) -> bool:
    n = len(word)
    return (
        s[i : i + n].lower() == word
        and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_"))
        and (i + n >= len(s) or not (s[i + n].isalnum() or s[i + n] == "_"))
    )


def _scan(s: str):
    r"""Yield (index, char, in_quote, depth) with single-quote,
    backtick-identifier and backslash-escape awareness plus nesting
    depth tracking. Depth counts parens AND ``CASE .. END`` blocks
    (r7 ADVICE: a CASE WHEN .. THEN .. END inside a MERGE guard must
    not look like the guard/action boundary or a new WHEN MATCHED
    clause — CASE opens a scope exactly like a paren). ``END`` only
    closes an OPEN case scope, so a bare column named ``end`` at top
    level never drives the depth negative; a backtick-quoted
    identifier like ``\`case\``` is opaque (review r8: without
    backtick awareness it opened a phantom CASE scope and swallowed
    the rest of the statement)."""
    depth, case_depth, quote, btick, i = 0, 0, False, False, 0
    while i < len(s):
        ch = s[i]
        if quote:
            if ch == "\\":
                yield i, ch, True, depth + case_depth
                i += 2
                continue
            if ch == "'":
                quote = False
        elif btick:
            if ch == "`":
                btick = False
            yield i, ch, True, depth + case_depth
            i += 1
            continue
        elif ch == "'":
            quote = True
        elif ch == "`":
            btick = True
            yield i, ch, True, depth + case_depth
            i += 1
            continue
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch in "cC" and _is_word_at(s, i, "case"):
            case_depth += 1
        elif ch in "eE" and case_depth and _is_word_at(s, i, "end"):
            case_depth -= 1
        yield i, ch, quote, depth + case_depth
        i += 1


def _split_top(s: str, sep: str) -> list[str]:
    """Split on ``sep`` at paren depth 0 outside string literals."""
    parts, start = [], 0
    for i, ch, quote, depth in _scan(s):
        if ch == sep and not quote and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return parts


def _find_keyword(s: str, word: str, start: int = 0) -> int:
    """Index of the first top-level (depth-0, unquoted) occurrence of
    ``word`` as a whole word; -1 if absent."""
    wl, n = word.lower(), len(word)
    for i, ch, quote, depth in _scan(s):
        if i < start or quote or depth != 0:
            continue
        if (
            s[i : i + n].lower() == wl
            and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_"))
            and (
                i + n >= len(s)
                or not (s[i + n].isalnum() or s[i + n] == "_")
            )
        ):
            return i
    return -1


def _split_where(body: str, stmt: str) -> tuple[str, str | None]:
    """Split ``body`` at its top-level WHERE. A present-but-empty
    condition is a syntax error, never TRUE — 'DELETE ... WHERE ;'
    must not silently become delete-everything."""
    body = body.rstrip().rstrip(";").rstrip()
    w = _find_keyword(body, "WHERE")
    if w < 0:
        return body, None
    cond = body[w + 5 :].strip()
    if not cond:
        raise ValueError(f"{stmt}: WHERE requires a condition")
    return body[:w].rstrip(), cond


def _assignments(text: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for piece in _split_top(text, ","):
        col, eq, expr = piece.partition("=")
        if not eq or not col.strip() or not expr.strip():
            raise ValueError(f"malformed SET assignment: {piece.strip()!r}")
        col = col.strip()
        # backtick-quoted target identifier (`case` = 1): the verb
        # layer resolves PLAIN names against the schema
        if len(col) >= 2 and col[0] == col[-1] == "`":
            col = col[1:-1]
        out[col] = expr.strip()
    return out


def _rewrite_alias(expr: str, alias: str | None, canonical: str) -> str:
    """Replace ``alias.`` qualifiers with ``canonical.`` OUTSIDE
    string literals — a literal 'see src.example.com' must survive.
    The negative lookbehind keeps qualified tails intact: in
    ``db.tbl.col`` the ``tbl.`` is preceded by ``.`` and is NOT an
    alias use, so it must not be rewritten."""
    if not alias or alias.lower() == canonical:
        return expr
    pat = re.compile(rf"(?<![\w.]){re.escape(alias)}\s*\.", re.I)
    # split into literal and non-literal segments; rewrite only the
    # non-literal ones (re.S so literals with newlines stay literals)
    segs = re.split(r"('(?:[^'\\]|\\.)*')", expr, flags=re.S)
    return "".join(
        seg if i % 2 else pat.sub(f"{canonical}.", seg)
        for i, seg in enumerate(segs)
    )


_COMPACT_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+COMPACT\s+'(\w+)'\s*;?\s*$", re.I
)
_SHOW_COMPACTIONS_STMT = re.compile(r"^\s*SHOW\s+COMPACTIONS\s*;?\s*$", re.I)
_SHOW_TXNS_STMT = re.compile(r"^\s*SHOW\s+TRANSACTIONS\s*;?\s*$", re.I)
_SHOW_LOCKS_STMT = re.compile(
    r"^\s*SHOW\s+LOCKS(?:\s+(?!EXTENDED\b)([\w.]+))?(\s+EXTENDED)?\s*;?\s*$",
    re.I,
)
_UPDATE_HEAD = re.compile(r"^\s*UPDATE\s+([\w.]+)\s+SET\s+", re.I | re.S)
_DELETE_HEAD = re.compile(r"^\s*DELETE\s+FROM\s+([\w.]+)\s*", re.I | re.S)
_MERGE_INTO = re.compile(
    r"^\s*MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?\s+USING\s+",
    re.I | re.S,
)
def _split_when(rest: str) -> list[str]:
    """Split the post-ON text at every top-level (depth-0, unquoted)
    ``WHEN`` that introduces a ``[NOT] MATCHED`` clause — the
    scanner-found analogue of the regex split this module's docstring
    forbids. Element 0 is the ON condition text; each later element
    is one clause body (the text after its WHEN). A string literal
    containing 'WHEN MATCHED ...' in the ON condition or a SET
    expression never splits (r6 ADVICE finding)."""
    bounds: list[int] = []
    pos = 0
    while True:
        i = _find_keyword(rest, "WHEN", pos)
        if i < 0:
            break
        if re.match(r"\s+(?:NOT\s+)?MATCHED\b", rest[i + 4 :], re.I):
            bounds.append(i)
        pos = i + 4
    pieces = [rest[: bounds[0]] if bounds else rest]
    for j, b in enumerate(bounds):
        end = bounds[j + 1] if j + 1 < len(bounds) else len(rest)
        pieces.append(rest[b + 4 : end])
    return pieces


def _parse_when_clause(clause: str) -> tuple[str, str | None, str]:
    """Parse one WHEN-clause body into (kind, guard, action_text)
    where kind ∈ {'matched', 'not_matched'}; guard is the optional
    AND condition; action_text follows THEN. The AND..THEN boundary
    is scanner-found, so a guard containing 'THEN' inside a string
    literal or parens survives."""
    m = re.match(r"^\s*(NOT\s+)?MATCHED\b", clause, re.I)
    if not m:
        raise ValueError(f"unsupported MERGE WHEN clause: WHEN {clause.strip()[:60]}")
    kind = "not_matched" if m.group(1) else "matched"
    rest = clause[m.end() :]
    then_at = _find_keyword(rest, "THEN")
    if then_at < 0:
        raise ValueError(f"unsupported MERGE WHEN clause: WHEN {clause.strip()[:60]}")
    guard_text = rest[:then_at].strip()
    guard = None
    if guard_text:
        am = re.match(r"^AND\b", guard_text, re.I)
        if not am or not guard_text[am.end() :].strip():
            raise ValueError(
                f"unsupported MERGE WHEN clause: WHEN {clause.strip()[:60]}"
            )
        guard = guard_text[am.end() :].strip()
    action = rest[then_at + 4 :].strip().rstrip(";").strip()
    return kind, guard, action


_INSERT_COLS_RE = re.compile(r"^INSERT\s*\(([^)]*)\)\s*VALUES\s*", re.I | re.S)
_INSERT_VALUES_RE = re.compile(r"^INSERT\s+VALUES\s*", re.I | re.S)


def _parse_insert_action(action: str) -> tuple[list[str] | None, list[str] | None]:
    """Parse ``INSERT *`` (returns (None, None)) or
    ``INSERT [(cols)] VALUES (exprs)`` (returns (cols-or-None,
    exprs)); the VALUES tuple is scanner-delimited so nested parens
    and quoted commas survive."""
    if re.fullmatch(r"INSERT\s*\*", action, re.I):
        return None, None
    cols = None
    m = _INSERT_COLS_RE.match(action)
    if m:
        cols = [c.strip() for c in m.group(1).split(",")]
        rest = action[m.end() :]
    else:
        m = _INSERT_VALUES_RE.match(action)
        if not m:
            raise ValueError(f"unsupported MERGE WHEN clause: WHEN ... THEN {action[:60]}")
        rest = action[m.end() :]
    rest = rest.lstrip()
    if not rest.startswith("("):
        raise ValueError("unsupported MERGE syntax — INSERT VALUES requires (...)")
    for i, ch, quote, depth in _scan(rest):
        if ch == ")" and not quote and depth == 0:
            if rest[i + 1 :].strip():
                raise ValueError(
                    f"unsupported MERGE syntax — trailing text after INSERT "
                    f"VALUES: {rest[i + 1 :].strip()[:40]!r}"
                )
            return cols, [e.strip() for e in _split_top(rest[1:i], ",")]
    raise ValueError("unsupported MERGE syntax — unbalanced ( in INSERT VALUES")


def _parse_using_source(rest: str) -> tuple[str, str]:
    """rest starts at the USING operand: a table name or a
    parenthesized subquery (arbitrary nesting, quote-aware). Returns
    (source_text, remainder)."""
    rest = rest.lstrip()
    if rest.startswith("("):
        for i, ch, quote, depth in _scan(rest):
            if ch == ")" and not quote and depth == 0:
                return rest[: i + 1], rest[i + 1 :]
        raise ValueError("unsupported MERGE syntax — unbalanced ( in USING")
    m = re.match(r"[\w.]+", rest)
    if not m:
        raise ValueError("unsupported MERGE syntax — expected USING <table|(subquery)>")
    return m.group(0), rest[m.end() :]


def handle(spark: SparkSession, text: str) -> DataFrame | None:
    """Route a DML statement to its verb; None if ``text`` is not an
    UPDATE/DELETE/MERGE/COMPACT statement. Returns a one-row count
    frame (the rows-affected answer a CLI prints).

    Write-path selection mirrors the reference: Hive routes
    statements against ``transactional=true`` tables through the
    ACID delta path and everything else through the rewrite path
    (ql/io/AcidUtils.java). Here a table with PINNED merge-on-read
    keys (acid.pin_mor_keys, or any prior *_mor write) takes
    acid.update_mor/delete_mor; unpinned tables take the
    copy-on-write ddl verbs. MERGE is copy-on-write only and raises
    on a pinned table (run acid.compact_mor first) — honest scope,
    same as the COW-verb guard."""
    from amplab_hive_spark.acid import compact_mor as _compact_mor
    from amplab_hive_spark.acid import delete_mor as _delete_mor
    from amplab_hive_spark.acid import mor_keys as _mor_keys
    from amplab_hive_spark.acid import update_mor as _update_mor
    from amplab_hive_spark.ddl import delete_from, merge_into, update_table

    if _SHOW_COMPACTIONS_STMT.match(text):
        # DDLTask.showCompactions: the queue listing — here the
        # PENDING inline-compaction work per merge-on-read table
        # (acid.show_compactions documents the column mapping)
        from amplab_hive_spark.acid import show_compactions

        return show_compactions(spark)

    if _SHOW_TXNS_STMT.match(text):
        # DDLTask.showTxns: the open-transaction listing — empty by
        # design in an inline-commit engine (acid.show_transactions
        # documents the honest mapping)
        from amplab_hive_spark.acid import show_transactions

        return show_transactions(spark)

    m = _SHOW_LOCKS_STMT.match(text)
    if m:
        # DDLTask.showLocks: live lock-manager state — here the
        # warehouse sidecar flocks, the only locks this inline engine
        # holds (acid.show_locks documents the honest mapping)
        from amplab_hive_spark.acid import show_locks

        return show_locks(spark, m.group(1))

    m = _COMPACT_STMT.match(text)
    if m:
        # HiveQL's ALTER TABLE .. COMPACT 'major'|'minor'
        # (DDLSemanticAnalyzer -> compactor Worker): major folds the
        # deltas into the base; minor consolidates the deltas without
        # a base rewrite (CompactorMR's two modes).
        mode = m.group(2).lower()
        if mode not in ("major", "minor"):
            raise ValueError(
                f"COMPACT expects 'major' or 'minor' (got {m.group(2)!r})"
            )
        # COMPACT is not Spark grammar, so the parse-tree enforcement
        # gate never sees it — gate the file-rewriting verb here
        # (authorization.enforce_maintenance; no-op when disabled)
        from amplab_hive_spark.authorization import enforce_maintenance

        enforce_maintenance(spark, m.group(1))
        n = _compact_mor(spark, m.group(1), mode=mode)
        return local_result(spark, [(n,)], "compacted_deltas bigint")

    m = _UPDATE_HEAD.match(text)
    if m:
        set_text, cond = _split_where(text[m.end() :], "UPDATE")
        keys = _mor_keys(spark, m.group(1))
        if keys is not None:
            n = _update_mor(spark, m.group(1), cond or "true",
                            _assignments(set_text), keys)
        else:
            n = update_table(spark, m.group(1), cond or "true",
                             _assignments(set_text))
        return local_result(spark, [(n,)], "updated bigint")

    m = _DELETE_HEAD.match(text)
    if m:
        tail, cond = _split_where(text[m.end() :], "DELETE")
        if tail.strip():
            raise ValueError(f"unsupported DELETE syntax near: {tail.strip()[:40]!r}")
        keys = _mor_keys(spark, m.group(1))
        if keys is not None:
            n = _delete_mor(spark, m.group(1), cond or "true", keys)
        else:
            n = delete_from(spark, m.group(1), cond or "true")
        return local_result(spark, [(n,)], "deleted bigint")

    if not re.match(r"^\s*MERGE\b", text, re.I):
        return None
    m = _MERGE_INTO.match(text)
    if not m:
        raise ValueError(
            "unsupported MERGE syntax — expected: MERGE INTO <table> [alias] "
            "USING <table|(subquery)> [alias] ON <cond> WHEN ..."
        )
    name, talias = m.group(1), m.group(2)
    src_text, rest = _parse_using_source(text[m.end() :])
    am = re.match(r"\s+(?:AS\s+)?(?!ON\b)(\w+)", rest, re.I)
    salias = am.group(1) if am else None
    rest = rest[am.end() :] if am else rest
    on_kw = _find_keyword(rest, "ON")
    if on_kw < 0:
        raise ValueError("unsupported MERGE syntax — missing ON condition")
    rest = rest[on_kw + 2 :]
    pieces = _split_when(rest)
    on = pieces[0].strip()
    if len(pieces) < 2:
        raise ValueError("MERGE requires at least one WHEN clause")
    if _mor_keys(spark, name) is not None:
        raise ValueError(
            f"MERGE on merge-on-read table {name} is not supported "
            f"(copy-on-write MERGE would mix write models); run "
            f"acid.compact_mor(spark, {name!r}) and unset the "
            f"transactional property, or decompose into UPDATE/DELETE "
            f"statements"
        )
    if talias and salias and talias.lower() == salias.lower():
        raise ValueError(
            f"MERGE target and source aliases collide: {talias!r} — every "
            f"qualified reference would be ambiguous"
        )
    # An alias on one side that equals the OTHER side's bare table
    # name is just as ambiguous (standard SQL: both qualifiers are in
    # scope): `MERGE INTO dst USING src AS dst` would silently bind
    # every `dst.` reference to the SOURCE. Reject loudly.
    if salias and talias is None and salias.lower() == name.split(".")[-1].lower():
        raise ValueError(
            f"MERGE source alias {salias!r} collides with the unaliased "
            f"target table name — qualified references would be ambiguous; "
            f"alias the target too"
        )
    if (
        talias
        and salias is None
        and not src_text.startswith("(")
        and talias.lower() == src_text.split(".")[-1].lower()
    ):
        raise ValueError(
            f"MERGE target alias {talias!r} collides with the unaliased "
            f"source table name — qualified references would be ambiguous; "
            f"alias the source too"
        )

    source = (
        spark.sql(src_text[1:-1]) if src_text.startswith("(") else spark.table(src_text)
    )

    _TGT_PH, _SRC_PH = "__merge_tgt_ph__", "__merge_src_ph__"

    def canon(expr: str) -> str:
        # Explicit aliases rewrite to UNIQUE placeholder qualifiers
        # first, so a user alias literally named 't' or 's' — even
        # swapped t/s aliases — can never be re-rewritten by a later
        # pass (the r6 ADVICE collision). A bare table short-name
        # qualifies a side only when that side has no explicit alias
        # (standard SQL: the alias hides the table name; Hive allows
        # `MERGE INTO tbl ... ON tbl.id = ...` only unaliased).
        expr = _rewrite_alias(expr, talias, _TGT_PH)
        expr = _rewrite_alias(expr, salias, _SRC_PH)
        if talias is None:
            expr = _rewrite_alias(expr, name.split(".")[-1], _TGT_PH)
        if salias is None and not src_text.startswith("("):
            expr = _rewrite_alias(expr, src_text.split(".")[-1], _SRC_PH)
        expr = _rewrite_alias(expr, _TGT_PH, "t")
        return _rewrite_alias(expr, _SRC_PH, "s")

    matched_update = matched_delete = not_matched_insert = None
    update_guard = insert_guard = None
    matched_order: list[str] = []  # textual order of the MATCHED clauses
    for clause in pieces[1:]:
        kind, guard, action = _parse_when_clause(clause)
        if kind == "matched":
            if re.match(r"^UPDATE\s+SET\s+", action, re.I):
                if matched_update is not None:
                    raise ValueError("duplicate WHEN MATCHED ... UPDATE clause")
                set_text = re.sub(r"^UPDATE\s+SET\s+", "", action, count=1, flags=re.I)
                matched_update = {
                    c: canon(e) for c, e in _assignments(set_text).items()
                }
                update_guard = canon(guard) if guard else None
                matched_order.append("update")
            elif re.fullmatch(r"DELETE", action, re.I):
                if matched_delete is not None:
                    raise ValueError("duplicate WHEN MATCHED ... DELETE clause")
                matched_delete = canon(guard) if guard else "true"
                matched_order.append("delete")
            else:
                raise ValueError(
                    f"unsupported MERGE WHEN clause: WHEN {clause.strip()[:60]}"
                )
        else:
            if not_matched_insert is not None:
                raise ValueError("duplicate WHEN NOT MATCHED clause")
            if not re.match(r"^INSERT\b", action, re.I):
                raise ValueError(
                    f"unsupported MERGE WHEN clause: WHEN {clause.strip()[:60]}"
                )
            cols, exprs = _parse_insert_action(action)
            if exprs is None:
                tcols = [f.name for f in spark.table(name).schema.fields]
                scols = {c.lower() for c in source.columns}
                not_matched_insert = {
                    c: f"s.{c}" for c in tcols if c.lower() in scols
                }
            else:
                if cols is None:
                    cols = [f.name for f in spark.table(name).schema.fields]
                if len(cols) != len(exprs):
                    raise ValueError(
                        f"MERGE INSERT arity mismatch: {len(cols)} columns, "
                        f"{len(exprs)} values"
                    )
                not_matched_insert = {c: canon(e) for c, e in zip(cols, exprs)}
            insert_guard = canon(guard) if guard else None

    # ANSI applies the FIRST matching MATCHED clause; merge_into
    # evaluates delete-before-update. DELETE-first passes through
    # unchanged (the verb runs the update guard only on non-deleted
    # rows); UPDATE-first folds NOT <update guard> into the delete
    # condition so a row firing the update can never also fire the
    # textually-later delete. Either way the FIRST of two MATCHED
    # clauses must carry AND (Hive 2.2 MergeSemanticAnalyzer rule:
    # the second clause is unreachable otherwise).
    if matched_update is not None and matched_delete is not None:
        if matched_order[0] == "delete":
            if matched_delete == "true":
                raise ValueError(
                    "WHEN MATCHED THEN DELETE followed by another MATCHED "
                    "clause must carry AND <cond> — the second clause is "
                    "unreachable otherwise"
                )
        else:
            if update_guard is None:
                raise ValueError(
                    "WHEN MATCHED THEN UPDATE followed by another MATCHED "
                    "clause must carry AND <cond> — the second clause is "
                    "unreachable otherwise"
                )
            not_u = f"NOT coalesce(({update_guard}), false)"
            matched_delete = (
                not_u
                if matched_delete == "true"
                else f"({matched_delete}) AND {not_u}"
            )

    stats = merge_into(
        spark,
        name,
        source,
        on=canon(on),
        matched_update=matched_update,
        matched_update_cond=update_guard,
        matched_delete=matched_delete,
        not_matched_insert=not_matched_insert,
        not_matched_cond=insert_guard,
    )
    return local_result(
        spark,
        [(stats["updated"], stats["deleted"], stats["inserted"])],
        "updated bigint, deleted bigint, inserted bigint",
    )
