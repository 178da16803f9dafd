"""Postgres → Spark SQL rewrite rules.

Re-expresses the reference's 12 AST rewrite rules
(``datafusion-pg-catalog/src/sql/rules.rs``, dispatch order
``sql/parser.rs:314-334``) as token-stream transforms targeting Spark SQL.
Rules the reference needed only because of DataFusion quirks (duplicate
projection aliasing, unqualified-identifier resolution, LIMIT-1 stamping of
scalar subqueries) are dropped — Catalyst handles those natively
(SURVEY.md §2.11 "optional" rows).

Each rule: list[Token] -> list[Token].
"""

from __future__ import annotations

import re

from datafusion_postgres_spark.dialect.tokenizer import (
    DOLLAR, IDENT, NUMBER, OP, PARAM, PUNCT, QIDENT, STRING, WS,
    Token, significant, tokenize,
)

# ---------------------------------------------------------------------------
# helpers

OPENERS = {"(": ")", "[": "]"}

_NON_CALL_KEYWORDS = (
    "SELECT", "WHERE", "FROM", "AND", "OR", "NOT", "ON", "WHEN", "THEN",
    "ELSE", "CASE", "END", "BY", "HAVING", "JOIN", "IN", "EXISTS", "ALL",
    "ANY", "SOME", "BETWEEN", "LIKE", "ILIKE", "AS", "DISTINCT", "UNION",
    "INTERSECT", "EXCEPT", "VALUES", "SET", "RETURNING", "LIMIT", "OFFSET",
    "GROUP", "ORDER", "OVER", "PARTITION", "WITH", "USING", "IS")


def _match_back(tokens: list[Token], close_idx: int) -> int:
    """Index of the opener matching the closer at close_idx."""
    closer = tokens[close_idx].text
    opener = {v: k for k, v in OPENERS.items()}[closer]
    depth = 0
    for i in range(close_idx, -1, -1):
        t = tokens[i]
        if t.kind == PUNCT and t.text == closer:
            depth += 1
        elif t.kind == PUNCT and t.text == opener:
            depth -= 1
            if depth == 0:
                return i
    return -1


def _match_fwd(tokens: list[Token], open_idx: int) -> int:
    """Index of the closer matching the opener at open_idx."""
    opener = tokens[open_idx].text
    closer = OPENERS[opener]
    depth = 0
    for i in range(open_idx, len(tokens)):
        t = tokens[i]
        if t.kind == PUNCT and t.text == opener:
            depth += 1
        elif t.kind == PUNCT and t.text == closer:
            depth -= 1
            if depth == 0:
                return i
    return -1


def _expr_start(tokens: list[Token], op_idx: int) -> int:
    """Start index of the primary expression ending just before op_idx.

    Handles: literals, idents with dotted paths, function calls,
    parenthesized expressions, array subscripts, `::` cast chains.
    """
    i = significant(tokens, op_idx, -1)
    if i < 0:
        return op_idx
    start = op_idx
    while i >= 0:
        t = tokens[i]
        if t.kind == PUNCT and t.text in (")", "]"):
            opener = _match_back(tokens, i)
            if opener < 0:
                break
            start = opener
            # function call? consume preceding name (but never a keyword —
            # `SELECT (expr)` is not a call to SELECT)
            j = significant(tokens, opener, -1)
            if (j >= 0 and tokens[j].kind in (IDENT, QIDENT) and
                    tokens[opener].text == "(" and
                    not tokens[j].is_kw(*_NON_CALL_KEYWORDS)):
                start = j
                i = j
            elif (j >= 0 and tokens[opener].text == "[" and
                    tokens[j].is_kw("ARRAY")):
                # ARRAY[...] constructor is one primary expression
                start = j
                i = j
            else:
                i = opener
        elif t.kind in (IDENT, QIDENT, NUMBER, STRING, DOLLAR, PARAM):
            start = i
        else:
            break
        # continue left through '.' member access or '::' casts
        j = significant(tokens, i, -1)
        if j >= 0 and ((tokens[j].kind == PUNCT and tokens[j].text == ".") or
                       (tokens[j].kind == OP and tokens[j].text == "::")):
            k = significant(tokens, j, -1)
            if k < 0:
                break
            i = k
        else:
            break
    return start


def _toks(sql: str) -> list[Token]:
    return tokenize(sql)


# ---------------------------------------------------------------------------
# Rule: ABORT -> ROLLBACK   (sql/parser.rs:349-356,429-442)

def rewrite_abort(tokens: list[Token]) -> list[Token]:
    first = significant(tokens, -1)
    if first >= 0 and tokens[first].is_kw("ABORT"):
        tokens = list(tokens)
        tokens[first] = Token(IDENT, "ROLLBACK")
    return tokens


def rewrite_truncate(tokens: list[Token]) -> list[Token]:
    """PG ``TRUNCATE [TABLE] [ONLY] name`` → Spark ``TRUNCATE TABLE
    name`` (Spark requires the TABLE keyword; ONLY has no meaning
    without inheritance)."""
    first = significant(tokens, -1)
    if first < 0 or not tokens[first].is_kw("TRUNCATE"):
        return tokens
    tokens = list(tokens)
    j = significant(tokens, first)
    if j >= 0 and tokens[j].is_kw("ONLY"):
        del tokens[j:j + 1]
        j = significant(tokens, first)
    if j >= 0 and not tokens[j].is_kw("TABLE"):
        tokens[first + 1:first + 1] = [Token(WS, " "), Token(IDENT, "TABLE")]
    else:
        k = significant(tokens, j)
        if k >= 0 and tokens[k].is_kw("ONLY"):
            del tokens[k:k + 1]
    return tokens


# ---------------------------------------------------------------------------
# Rule: OPERATOR(pg_catalog.~) -> ~   (sql/rules.rs:802-857)

def rewrite_pg_operator(tokens: list[Token]) -> list[Token]:
    out: list[Token] = []
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.is_kw("OPERATOR"):
            j = significant(tokens, i)
            if j >= 0 and tokens[j].text == "(":
                close = _match_fwd(tokens, j)
                inner = [x for x in tokens[j + 1:close] if x.kind != WS]
                # forms: pg_catalog . ~   or just ~
                op = None
                if len(inner) == 3 and inner[0].is_kw("PG_CATALOG"):
                    op = inner[2].text
                elif len(inner) == 1:
                    op = inner[0].text
                if op is not None:
                    out.append(Token(OP, op))
                    i = close + 1
                    continue
        out.append(t)
        i += 1
    return out


# ---------------------------------------------------------------------------
# Rule: COLLATE <name> stripped   (sql/rules.rs:771-800)

def strip_collate(tokens: list[Token]) -> list[Token]:
    out: list[Token] = []
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.is_kw("COLLATE"):
            j = significant(tokens, i)
            # consume qualified name: ident (. ident)* or quoted
            while j >= 0 and tokens[j].kind in (IDENT, QIDENT, STRING):
                k = significant(tokens, j)
                if k >= 0 and tokens[k].kind == PUNCT and tokens[k].text == ".":
                    j = significant(tokens, k)
                else:
                    break
            i = (j + 1) if j >= 0 else (i + 1)
            # drop trailing space we may have left doubled
            continue
        out.append(t)
        i += 1
    return out


# ---------------------------------------------------------------------------
# Rule: regex operators ~ ~* !~ !~*  ->  RLIKE forms   (exercised via
# OPERATOR(pg_catalog.~) in client queries; Spark lacks the pg operators)

def _ci_pattern(tokens: list[Token], pat_idx: int) -> list[Token]:
    """Wrap pattern with case-insensitive flag."""
    t = tokens[pat_idx]
    if t.kind == STRING and t.text.startswith("'"):
        inner = t.text[1:-1]
        return [Token(STRING, f"'(?i){inner}'")]
    return ([Token(IDENT, "concat"), Token(PUNCT, "("),
             Token(STRING, "'(?i)'"), Token(PUNCT, ","), Token(WS, " "),
             t, Token(PUNCT, ")")])


def rewrite_regex_ops(tokens: list[Token]) -> list[Token]:
    i = 0
    tokens = list(tokens)
    while i < len(tokens):
        t = tokens[i]
        if t.kind == OP and t.text in ("~", "~*", "!~", "!~*"):
            # binary regex op requires an expression on the left
            prev = significant(tokens, i, -1)
            if prev < 0 or not (
                tokens[prev].kind in (IDENT, QIDENT, NUMBER, STRING, DOLLAR,
                                      PARAM)
                or (tokens[prev].kind == PUNCT and tokens[prev].text in (")", "]"))
            ):
                i += 1
                continue
            neg = t.text.startswith("!")
            ci = t.text.endswith("*")
            repl: list[Token] = []
            if neg:
                repl += [Token(IDENT, "NOT"), Token(WS, " ")]
            repl += [Token(IDENT, "RLIKE")]
            pat_idx = significant(tokens, i)
            if ci and pat_idx >= 0:
                pat_repl = _ci_pattern(tokens, pat_idx)
                tokens[pat_idx:pat_idx + 1] = pat_repl
            tokens[i:i + 1] = repl
            i += len(repl)
            continue
        i += 1
    return tokens


def _expr_end(tokens: list[Token], op_idx: int) -> int:
    """Inclusive end index of the primary expression starting after
    op_idx — mirror of :func:`_expr_start` for right-hand operands.
    Handles literals, dotted paths, calls, parens, subscripts, ``::``."""
    i = significant(tokens, op_idx)
    if i < 0:
        return -1
    t = tokens[i]
    if t.kind == PUNCT and t.text == "(":
        end = _match_fwd(tokens, i)
        if end < 0:
            return -1
    elif t.kind in (IDENT, QIDENT, NUMBER, STRING, DOLLAR, PARAM):
        end = i
        while tokens[end].kind in (IDENT, QIDENT):
            j = significant(tokens, end)
            if j >= 0 and tokens[j].kind == PUNCT and tokens[j].text == ".":
                k = significant(tokens, j)
                if k >= 0 and tokens[k].kind in (IDENT, QIDENT):
                    end = k
                    continue
            break
        j = significant(tokens, end)
        if tokens[end].kind in (IDENT, QIDENT) and j >= 0 and \
                tokens[j].kind == PUNCT and tokens[j].text == "(":
            end = _match_fwd(tokens, j)
            if end < 0:
                return -1
    else:
        return -1
    while True:
        j = significant(tokens, end)
        if j >= 0 and tokens[j].kind == PUNCT and tokens[j].text == "[":
            k = _match_fwd(tokens, j)
            if k < 0:
                break
            end = k
        elif j >= 0 and tokens[j].kind == OP and tokens[j].text == "::":
            k = significant(tokens, j)
            if k < 0:
                break
            end = k
            m = significant(tokens, end)
            if m >= 0 and tokens[m].kind == PUNCT and tokens[m].text == "[":
                mm = _match_fwd(tokens, m)
                if mm >= 0:
                    end = mm
        else:
            break
    return end


def rewrite_setlike_ops(tokens: list[Token]) -> list[Token]:
    """Array/tsvector binary operators → function calls.

    ``a @> b`` (contains) / ``a <@ b`` (contained-by) →
    ``pg_array_contains_all``; ``a && b`` (overlap) → ``arrays_overlap``;
    ``v @@ q`` (text search match) → ``ts_match``; ``j @? p`` (jsonpath
    exists) → ``jsonb_path_exists``. Registered SQL UDFs carry the NULL
    semantics."""
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.kind == OP and t.text in ("@>", "<@", "&&", "@@", "@?"):
            lstart = _expr_start(tokens, i)
            rend = _expr_end(tokens, i)
            rstart = significant(tokens, i)
            if lstart >= i or rend < 0 or rstart < 0:
                i += 1
                continue
            lhs = [tk for tk in tokens[lstart:i] if not (
                tk.kind == WS and (tk is tokens[i - 1]))]
            while lhs and lhs[-1].kind == WS:
                lhs.pop()
            rhs = list(tokens[rstart:rend + 1])
            if t.text == "@>":
                fn, first, second = "pg_array_contains_all", lhs, rhs
            elif t.text == "<@":
                fn, first, second = "pg_array_contains_all", rhs, lhs
            elif t.text == "&&":
                fn, first, second = "arrays_overlap", lhs, rhs
            elif t.text == "@?":
                fn, first, second = "jsonb_path_exists", lhs, rhs
            else:
                fn, first, second = "ts_match", lhs, rhs
            repl = ([Token(IDENT, fn), Token(PUNCT, "(")] + first +
                    [Token(PUNCT, ","), Token(WS, " ")] + second +
                    [Token(PUNCT, ")")])
            tokens[lstart:rend + 1] = repl
            i = lstart + len(repl)
            continue
        i += 1
    return tokens


# ---------------------------------------------------------------------------
# Rule: x = ANY(arr) -> array_contains(arr, x);  x <> ALL(arr) -> NOT ...
# (sql/rules.rs:304-449).  Subquery argument keeps IN / NOT IN semantics.

def rewrite_any_all(tokens: list[Token]) -> list[Token]:
    i = 0
    tokens = list(tokens)
    while i < len(tokens):
        t = tokens[i]
        if not (t.is_kw("ANY", "ALL", "SOME")):
            i += 1
            continue
        op_idx = significant(tokens, i, -1)
        # LIKE/ILIKE ANY|ALL: Spark supports the form natively but with a
        # bare value LIST — strip PG's ARRAY[...] / '{...}' wrapper
        if op_idx >= 0 and tokens[op_idx].is_kw("LIKE", "ILIKE"):
            open_idx = significant(tokens, i)
            if open_idx >= 0 and tokens[open_idx].text == "(":
                close_idx = _match_fwd(tokens, open_idx)
                if close_idx >= 0:
                    arg = tokens[open_idx + 1:close_idx]
                    lit_elems = _literal_array_arg(arg)
                    fa = significant(arg, -1)
                    new_inner = None
                    if fa >= 0 and arg[fa].is_kw("ARRAY"):
                        br = significant(arg, fa)
                        if br >= 0 and arg[br].text == "[":
                            end = len(arg) - 1
                            while end > br and arg[end].kind == WS:
                                end -= 1
                            if arg[end].text == "]":
                                new_inner = arg[br + 1:end]
                    elif lit_elems is not None:
                        new_inner = []
                        for k, e in enumerate(lit_elems):
                            if k:
                                new_inner += [Token(PUNCT, ","),
                                              Token(WS, " ")]
                            new_inner.append(Token(
                                STRING, "'" + e.replace("'", "''") + "'"))
                    if new_inner is not None:
                        if t.text.upper() == "SOME":
                            tokens[i] = Token(IDENT, "ANY")
                        tokens[open_idx + 1:close_idx] = new_inner
            i += 1
            continue
        if op_idx < 0 or tokens[op_idx].kind != OP or tokens[op_idx].text not in (
                "=", "<>", "!="):
            i += 1
            continue
        open_idx = significant(tokens, i)
        if open_idx < 0 or tokens[open_idx].text != "(":
            i += 1
            continue
        close_idx = _match_fwd(tokens, open_idx)
        if close_idx < 0:
            i += 1
            continue
        is_eq = tokens[op_idx].text == "="
        kw = t.text.upper()
        # consistency: = ANY / = SOME (membership), <> ALL (non-membership)
        if (is_eq and kw == "ALL") or (not is_eq and kw in ("ANY", "SOME")):
            i += 1
            continue
        lhs_start = _expr_start(tokens, op_idx)
        lhs = tokens[lhs_start:op_idx]
        while lhs and lhs[-1].kind == WS:
            lhs.pop()
        arg = tokens[open_idx + 1:close_idx]
        first_arg = significant(arg, -1)
        is_subquery = first_arg >= 0 and arg[first_arg].is_kw("SELECT", "WITH",
                                                             "VALUES")
        lit_elems = _literal_array_arg(arg)
        if is_subquery:
            repl = lhs + [Token(WS, " ")]
            if not is_eq:
                repl += [Token(IDENT, "NOT"), Token(WS, " ")]
            repl += [Token(IDENT, "IN"), Token(WS, " "), Token(PUNCT, "(")]
            if arg[first_arg].is_kw("VALUES"):
                # Spark's IN-subquery grammar wants a SELECT, not bare VALUES
                repl += _toks("SELECT * FROM ")
            repl += arg + [Token(PUNCT, ")")]
        elif lit_elems is not None:
            # '{..}' literal argument: IN-list form.  Spark coerces the
            # quoted string literals to the LHS column type, matching pg's
            # untyped-array-literal resolution ('{1,2}' works against int
            # and text columns alike); array_contains() would not coerce.
            if not lit_elems:
                # x = ANY('{}') is false, x <> ALL('{}') is true (pg semantics)
                repl = [Token(PUNCT, "("),
                        Token(IDENT, "false" if is_eq else "true"),
                        Token(PUNCT, ")")]
            else:
                repl = lhs + [Token(WS, " ")]
                if not is_eq:
                    repl += [Token(IDENT, "NOT"), Token(WS, " ")]
                repl += [Token(IDENT, "IN"), Token(WS, " "), Token(PUNCT, "(")]
                for idx, e in enumerate(lit_elems):
                    if idx:
                        repl += [Token(PUNCT, ","), Token(WS, " ")]
                    if e.upper() == "NULL":
                        repl.append(Token(IDENT, "NULL"))
                    else:
                        e = e.strip('"')
                        repl.append(Token(STRING,
                                          "'" + e.replace("'", "''") + "'"))
                repl.append(Token(PUNCT, ")"))
        else:
            repl = []
            if not is_eq:
                repl += [Token(IDENT, "NOT"), Token(WS, " ")]
            repl += [Token(IDENT, "array_contains"), Token(PUNCT, "(")]
            repl += arg + [Token(PUNCT, ","), Token(WS, " ")] + lhs
            repl += [Token(PUNCT, ")")]
        tokens[lhs_start:close_idx + 1] = repl
        i = lhs_start + len(repl)
    return tokens


def _literal_array_arg(arg: list[Token]) -> list[str] | None:
    """If the ANY/ALL argument is exactly one '{..}' string literal
    (optionally followed by a ::type[] cast), return its elements."""
    sig = [t for t in arg if t.kind != WS]
    if not sig or sig[0].kind != STRING:
        return None
    if len(sig) > 1:
        # allow a trailing ::ident[] cast, nothing else
        rest = "".join(t.text for t in sig[1:])
        import re as _re
        if not _re.fullmatch(r"::\s*\w+\s*\[\s*\]", rest):
            return None
    raw = sig[0].text[1:-1].replace("''", "'").strip()
    if not (raw.startswith("{") and raw.endswith("}")):
        return None
    inner = raw[1:-1].strip()
    if not inner:
        return []
    return _split_pg_array(inner)


# ---------------------------------------------------------------------------
# Rule: '{a,b,c}' array literals -> array('a','b','c')  (sql/rules.rs:504-573)
# Applied where a pg array-literal string feeds array context: inside
# array_contains(...) (post ANY/ALL rewrite) or cast with ::type[].

PG_ELEM_CASTS = {"int2": "smallint", "int4": "int", "int8": "bigint",
                 "float4": "float", "float8": "double", "bool": "boolean",
                 "text": "string", "varchar": "string", "name": "string",
                 "oid": "int"}


def _array_literal_tokens(text: str, elem_type: str | None) -> list[Token] | None:
    body = text.strip()
    if not (body.startswith("{") and body.endswith("}")):
        return None
    inner = body[1:-1].strip()
    out: list[Token] = [Token(IDENT, "array"), Token(PUNCT, "(")]
    if inner:
        elems = _split_pg_array(inner)
        if elems is None:
            return None
        for idx, e in enumerate(elems):
            if idx:
                out += [Token(PUNCT, ","), Token(WS, " ")]
            if e.upper() == "NULL":
                out.append(Token(IDENT, "NULL"))
            elif elem_type and elem_type not in ("string", "text"):
                out.append(Token(IDENT, f"CAST('{e}' AS {elem_type})"))
            else:
                e = e.strip('"')
                out.append(Token(STRING, "'" + e.replace("'", "''") + "'"))
    out.append(Token(PUNCT, ")"))
    return out


def _split_pg_array(inner: str) -> list[str] | None:
    elems, cur, depth, in_q = [], [], 0, False
    i = 0
    while i < len(inner):
        c = inner[i]
        if in_q:
            if c == "\\":
                cur.append(inner[i + 1] if i + 1 < len(inner) else "")
                i += 2
                continue
            if c == '"':
                in_q = False
            else:
                cur.append(c)
        elif c == '"':
            in_q = True
        elif c == "{":
            return None  # nested arrays unsupported
        elif c == "," and depth == 0:
            elems.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        i += 1
    elems.append("".join(cur).strip())
    return elems


def fix_array_literals(tokens: list[Token]) -> list[Token]:
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.kind == STRING and t.text[0] == "'" and "{" in t.text[:3]:
            raw = t.text[1:-1]
            # determine element type from a following ::type[] cast
            j = significant(tokens, i)
            elem_type, cast_end = None, None
            if j >= 0 and tokens[j].kind == OP and tokens[j].text == "::":
                k = significant(tokens, j)
                if k >= 0 and tokens[k].kind == IDENT:
                    m = significant(tokens, k)
                    if m >= 0 and tokens[m].text == "[":
                        mm = significant(tokens, m)
                        if mm >= 0 and tokens[mm].text == "]":
                            elem_type = PG_ELEM_CASTS.get(
                                tokens[k].text.lower(), tokens[k].text.lower())
                            cast_end = mm
            arr = _array_literal_tokens(raw, elem_type)
            if arr is not None and (cast_end is not None or
                                    _in_array_context(tokens, i)):
                end = cast_end + 1 if cast_end is not None else i + 1
                tokens[i:end] = arr
                i += len(arr)
                continue
        i += 1
    return tokens


def _in_array_context(tokens: list[Token], idx: int) -> bool:
    """True when the string literal is an argument of an array-consuming
    call produced by the ANY/ALL or set-op rewrites (array_contains,
    pg_array_contains_all, arrays_overlap, ts_match) or unnest/explode."""
    prev = significant(tokens, idx, -1)
    if prev < 0 or tokens[prev].text not in ("(", ","):
        return False
    if tokens[prev].text == ",":
        depth = 0
        k = prev
        while k >= 0:
            tk = tokens[k]
            if tk.kind == PUNCT and tk.text == ")":
                depth += 1
            elif tk.kind == PUNCT and tk.text == "(":
                if depth == 0:
                    break
                depth -= 1
            k -= 1
        if k < 0:
            return False
        prev = k
    fn = significant(tokens, prev, -1)
    return fn >= 0 and tokens[fn].kind == IDENT and tokens[fn].text.lower() in (
        "array_contains", "unnest", "explode", "pg_array_contains_all",
        "arrays_overlap", "ts_match")


# ---------------------------------------------------------------------------
# Rule: strip pg_catalog./public. qualifier from function calls
# (sql/rules.rs:575-640)

def strip_callable_qualifier(tokens: list[Token]) -> list[Token]:
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.is_kw("PG_CATALOG", "PUBLIC"):
            dot = significant(tokens, i)
            if dot >= 0 and tokens[dot].kind == PUNCT and tokens[dot].text == ".":
                name = significant(tokens, dot)
                if name >= 0 and tokens[name].kind in (IDENT, QIDENT):
                    paren = significant(tokens, name)
                    if paren >= 0 and tokens[paren].text == "(":
                        del tokens[i:name]
                        continue
        i += 1
    return tokens


# ---------------------------------------------------------------------------
# Rule: bare current_user / session_user / current_role / current_schema /
# current_catalog -> function-call forms  (sql/rules.rs:642-769)

_SESSION_VARS = {
    "CURRENT_USER": "pg_session_user()",
    "SESSION_USER": "pg_session_user()",
    "CURRENT_ROLE": "pg_session_user()",
    "CURRENT_SCHEMA": "pg_current_schema()",
    "CURRENT_CATALOG": "pg_current_database()",
    "CURRENT_DATABASE": "pg_current_database()",
}


def rewrite_session_vars(tokens: list[Token]) -> list[Token]:
    tokens = list(tokens)
    for i, t in enumerate(tokens):
        if t.kind == IDENT and t.text.upper() in _SESSION_VARS:
            nxt = significant(tokens, i)
            prev = significant(tokens, i, -1)
            if nxt >= 0 and tokens[nxt].text == "(":
                continue  # already a call
            if prev >= 0 and tokens[prev].kind == PUNCT and tokens[prev].text == ".":
                continue  # qualified column
            tokens[i] = Token(IDENT, _SESSION_VARS[t.text.upper()])
    return tokens


# ---------------------------------------------------------------------------
# Rule: reg* casts  (sql/rules.rs:859-1062 + oid_type_planner.rs)
#   'name'::regclass  -> scalar subquery against pg_class
#   '123'::regclass   -> 123
#   col::regtype      -> CAST(col AS INT)

REG_TYPES = {"regclass": ("pg_catalog_pg_class", "relname", "oid"),
             "regtype": ("pg_catalog_pg_type", "typname", "oid"),
             "regproc": ("pg_catalog_pg_proc", "proname", "oid"),
             "regnamespace": ("pg_catalog_pg_namespace", "nspname", "oid"),
             "regrole": ("pg_catalog_pg_roles", "rolname", "oid"),
             "regoper": ("pg_catalog_pg_operator", "oprname", "oid")}


def rewrite_reg_casts(tokens: list[Token]) -> list[Token]:
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.kind == OP and t.text == "::":
            ty_idx = significant(tokens, i)
            if ty_idx >= 0 and tokens[ty_idx].kind == IDENT and \
                    tokens[ty_idx].text.lower() in REG_TYPES:
                table, name_col, oid_col = REG_TYPES[tokens[ty_idx].text.lower()]
                # reg value cast onward to a text type prints the object
                # NAME in PG ('nation'::regclass::text -> 'nation'); peek
                # for the chained cast and resolve through the catalog
                end_idx = ty_idx
                as_text = False
                nxt = significant(tokens, ty_idx)
                if nxt >= 0 and tokens[nxt].kind == OP and \
                        tokens[nxt].text == "::":
                    nxt2 = significant(tokens, nxt)
                    if nxt2 >= 0 and tokens[nxt2].kind == IDENT and \
                            tokens[nxt2].text.lower() in ("text", "varchar",
                                                          "name", "bpchar"):
                        end_idx, as_text = nxt2, True
                lhs_idx = significant(tokens, i, -1)
                if lhs_idx >= 0 and tokens[lhs_idx].kind == STRING:
                    val = tokens[lhs_idx].text[1:-1]
                    if val.isdigit():
                        repl = [Token(NUMBER, val)] if not as_text else _toks(
                            f"(SELECT {name_col} FROM {table} "
                            f"WHERE {oid_col} = {val} LIMIT 1)")
                    else:
                        # strip schema qualifier inside the literal
                        short = val.split(".")[-1].strip('"')
                        out_col = name_col if as_text else oid_col
                        repl = _toks(
                            f"(SELECT {out_col} FROM {table} "
                            f"WHERE {name_col} = '{short}' LIMIT 1)")
                    tokens[lhs_idx:end_idx + 1] = repl
                    i = lhs_idx + len(repl)
                    continue
                # column::regtype -> CAST(col AS INT); onward ::text looks
                # the name up by oid (correlated scalar subquery)
                start = _expr_start(tokens, i)
                expr = [x for x in tokens[start:i]]
                if as_text:
                    repl = (_toks(f"(SELECT {name_col} FROM {table} "
                                  f"WHERE {oid_col} = ") + expr +
                            _toks(" LIMIT 1)"))
                else:
                    repl = ([Token(IDENT, "CAST"), Token(PUNCT, "(")] + expr +
                            [Token(WS, " "), Token(IDENT, "AS"),
                             Token(WS, " "), Token(IDENT, "INT"),
                             Token(PUNCT, ")")])
                tokens[start:end_idx + 1] = repl
                i = start + len(repl)
                continue
        i += 1
    return tokens


# ---------------------------------------------------------------------------
# Rule: Postgres type names -> Spark type names (in :: casts and CAST(.. AS ..))
# (arrow-pg/src/datatypes.rs:23-125 inverse mapping, SURVEY.md §1.2)

PG_TO_SPARK_TYPES = {
    "int2": "SMALLINT", "smallint": "SMALLINT",
    "int4": "INT", "integer": "INT", "int": "INT",
    "int8": "BIGINT", "bigint": "BIGINT",
    "float4": "FLOAT", "real": "FLOAT",
    "float8": "DOUBLE",
    "bool": "BOOLEAN", "boolean": "BOOLEAN",
    "text": "STRING", "varchar": "STRING", "bpchar": "STRING",
    "char": "STRING", "name": "STRING",
    "bytea": "BINARY",
    "numeric": "DECIMAL(38,18)", "decimal": "DECIMAL(38,18)",
    "timestamptz": "TIMESTAMP",
    "timestamp": "TIMESTAMP_NTZ",
    "date": "DATE",
    "oid": "INT",
    "uuid": "STRING", "json": "STRING", "jsonb": "STRING",
    "inet": "STRING", "macaddr": "STRING", "money": "DECIMAL(19,2)",
}


_INT_TARGETS = {"int2": "SMALLINT", "smallint": "SMALLINT",
                "int4": "INT", "integer": "INT", "int": "INT",
                "int8": "BIGINT", "bigint": "BIGINT", "oid": "INT"}


def map_cast_types(tokens: list[Token]) -> list[Token]:
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.kind == OP and t.text == "::":
            ty = significant(tokens, i)
            if ty >= 0 and tokens[ty].kind == IDENT:
                low = tokens[ty].text.lower()
                # "double precision" / "timestamp with[out] time zone"
                nxt = significant(tokens, ty)
                if low == "double" and nxt >= 0 and tokens[nxt].is_kw("PRECISION"):
                    tokens[ty:nxt + 1] = [Token(IDENT, "DOUBLE")]
                elif low == "timestamp" and nxt >= 0 and tokens[nxt].is_kw("WITH", "WITHOUT"):
                    with_tz = tokens[nxt].is_kw("WITH")
                    end = nxt
                    for _ in range(2):  # TIME ZONE
                        e = significant(tokens, end)
                        if e >= 0:
                            end = e
                    tokens[ty:end + 1] = [Token(
                        IDENT, "TIMESTAMP" if with_tz else "TIMESTAMP_NTZ")]
                elif low in _INT_TARGETS:
                    # Postgres float->int casts round HALF-EVEN (rint);
                    # Spark CAST truncates. expr::int8 ->
                    # CAST(rint(expr) AS BIGINT). Caveat: rint goes through
                    # double, so bigint values > 2^53 would lose precision —
                    # acceptable for the cast-a-float/string use this syntax
                    # serves (PG itself computes via rint).
                    start = _expr_start(tokens, i)
                    expr = tokens[start:i]
                    repl = ([Token(IDENT, "CAST"), Token(PUNCT, "("),
                             Token(IDENT, "rint"), Token(PUNCT, "(")] +
                            expr +
                            [Token(PUNCT, ")"), Token(WS, " "),
                             Token(IDENT, "AS"), Token(WS, " "),
                             Token(IDENT, _INT_TARGETS[low]),
                             Token(PUNCT, ")")])
                    tokens[start:ty + 1] = repl
                    i = start + len(repl)
                    continue
                elif low == "interval":
                    # '1 hour'::interval -> INTERVAL '1 hour' (typed
                    # literal — Spark's CAST cannot parse PG multi-unit
                    # interval text); other operands -> day-time interval
                    start = _expr_start(tokens, i)
                    sig = [k for k in range(start, i)
                           if tokens[k].kind != WS]
                    if len(sig) == 1 and tokens[sig[0]].kind == STRING:
                        repl = [Token(IDENT, "INTERVAL"), Token(WS, " "),
                                tokens[sig[0]]]
                        tokens[start:ty + 1] = repl
                        i = start + len(repl)
                        continue
                    tokens[ty] = Token(IDENT, "INTERVAL DAY TO SECOND")
                elif low in PG_TO_SPARK_TYPES:
                    # array cast: ::type[] -> CAST(.. AS ARRAY<T>)
                    if nxt >= 0 and tokens[nxt].text == "[":
                        close_b = significant(tokens, nxt)
                        if close_b >= 0 and tokens[close_b].text == "]":
                            tokens[ty:close_b + 1] = [Token(
                                IDENT,
                                f"ARRAY<{PG_TO_SPARK_TYPES[low]}>")]
                            i += 1
                            continue
                    # keep numeric(p,s) parenthesized forms intact
                    if low in ("numeric", "decimal") and nxt >= 0 and \
                            tokens[nxt].text == "(":
                        tokens[ty] = Token(IDENT, "DECIMAL")
                    else:
                        tokens[ty] = Token(IDENT, PG_TO_SPARK_TYPES[low])
        elif t.is_kw("AS"):
            # CAST(x AS pgtype) — only rewrite when directly inside CAST()
            ty = significant(tokens, i)
            if ty >= 0 and tokens[ty].kind == IDENT and _inside_cast(tokens, i):
                low = tokens[ty].text.lower()
                nxt = significant(tokens, ty)
                if low == "double" and nxt >= 0 and tokens[nxt].is_kw("PRECISION"):
                    tokens[ty:nxt + 1] = [Token(IDENT, "DOUBLE")]
                elif low in PG_TO_SPARK_TYPES:
                    if low in ("numeric", "decimal") and nxt >= 0 and \
                            tokens[nxt].text == "(":
                        tokens[ty] = Token(IDENT, "DECIMAL")
                    else:
                        tokens[ty] = Token(IDENT, PG_TO_SPARK_TYPES[low])
        i += 1
    return tokens


# ---------------------------------------------------------------------------
# Rule: PG type names in CREATE TABLE column lists, through the map the
# casts use: (k int8, v varchar(10), x double precision) ->
# (k BIGINT, v STRING, x DOUBLE)

_TABLE_CONSTRAINTS = ("CONSTRAINT", "PRIMARY", "UNIQUE", "CHECK", "FOREIGN",
                      "EXCLUDE", "LIKE")


def map_ddl_types(tokens: list[Token]) -> list[Token]:
    first = significant(tokens, -1)
    if first < 0 or not tokens[first].is_kw("CREATE"):
        return tokens
    i = first
    while True:  # CREATE [OR REPLACE] [GLOBAL|LOCAL] [TEMP|UNLOGGED] TABLE
        i = significant(tokens, i)
        if i < 0 or tokens[i].is_kw("TABLE"):
            break
        if not tokens[i].is_kw("OR", "REPLACE", "GLOBAL", "LOCAL", "TEMP",
                               "TEMPORARY", "UNLOGGED"):
            return tokens
    j = significant(tokens, i) if i >= 0 else -1
    if j >= 0 and tokens[j].is_kw("IF"):  # IF NOT EXISTS
        for _ in range(3):
            j = significant(tokens, j) if j >= 0 else -1
    while j >= 0 and tokens[j].kind in (IDENT, QIDENT):  # [schema.]name
        k = significant(tokens, j)
        if k < 0 or tokens[k].text != ".":
            j = k
            break
        j = significant(tokens, k)
    if j < 0 or tokens[j].text != "(":
        return tokens
    tokens = list(tokens)
    close = _match_fwd(tokens, j)
    while 0 <= j < close:  # j: the "(" or "," before a column definition
        col = significant(tokens, j)
        ty = significant(tokens, col)
        if 0 <= col < ty < close and \
                not tokens[col].is_kw(*_TABLE_CONSTRAINTS):
            mapped = _spark_column_type(tokens, ty)
            if mapped is not None:
                spark_type, end = mapped
                tokens[ty:end + 1] = [Token(IDENT, spark_type)]
                close -= end - ty
        j = ty
        while 0 <= j < close and not (tokens[j].kind == PUNCT and
                                      tokens[j].text == ","):
            if tokens[j].kind == PUNCT and tokens[j].text == "(":
                j = _match_fwd(tokens, j)
            j += 1
    return tokens


def _spark_column_type(tokens: list[Token], ty: int) -> tuple[str, int] | None:
    """(Spark type, index of its last token) for the PG column type that
    starts at ``ty``, or None when it is not a PG type name. Length
    modifiers drop (``STRING(10)`` does not parse); numeric keeps (p,s)."""
    if tokens[ty].kind != IDENT:
        return None
    low, end = tokens[ty].text.lower(), ty
    nxt = significant(tokens, ty)
    if low == "double" and nxt >= 0 and tokens[nxt].is_kw("PRECISION"):
        return "DOUBLE", nxt
    if low == "character":
        if nxt >= 0 and tokens[nxt].is_kw("VARYING"):
            end = nxt
        low = "varchar"
    if low not in PG_TO_SPARK_TYPES:
        return None
    spark_type = PG_TO_SPARK_TYPES[low]
    k = significant(tokens, end)
    if k >= 0 and tokens[k].text == "(":
        end = _match_fwd(tokens, k)
        if low in ("numeric", "decimal"):
            spark_type = "DECIMAL" + "".join(
                t.text for t in tokens[k:end + 1] if t.kind != WS)
        k = significant(tokens, end)
    if low == "timestamp" and k >= 0 and tokens[k].is_kw("WITH", "WITHOUT"):
        if tokens[k].is_kw("WITH"):
            spark_type = "TIMESTAMP"
        end = k
        for _ in range(2):  # TIME ZONE
            e = significant(tokens, end)
            if e >= 0:
                end = e
        k = significant(tokens, end)
    if k >= 0 and tokens[k].text == "[":
        kb = significant(tokens, k)
        if kb >= 0 and tokens[kb].text == "]":
            spark_type, end = f"ARRAY<{spark_type}>", kb
    return spark_type, end


def _inside_cast(tokens: list[Token], as_idx: int) -> bool:
    depth = 0
    for i in range(as_idx - 1, -1, -1):
        t = tokens[i]
        if t.kind == PUNCT and t.text == ")":
            depth += 1
        elif t.kind == PUNCT and t.text == "(":
            if depth == 0:
                fn = significant(tokens, i, -1)
                return fn >= 0 and tokens[fn].is_kw("CAST", "TRY_CAST")
            depth -= 1
    return False


# ---------------------------------------------------------------------------
# Rule: qualify known pg_catalog / information_schema tables to our
# registered view names  (sql/rules.rs:451-502 PrependUnqualifiedPgTableName)
# Spark temp views are flat, so `pg_catalog.pg_class` -> `pg_catalog_pg_class`.

from datafusion_postgres_spark.catalog.names import (  # noqa: E402
    INFORMATION_SCHEMA_TABLES, PG_CATALOG_TABLES)


def rewrite_catalog_names(tokens: list[Token]) -> list[Token]:
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if (t.kind in (IDENT, QIDENT) and
                t.text.strip('"').lower() == "public"):
            # strip the `public.` / `"public"."x"` schema qualifier:
            # postgres_fdw deparse and many ORMs ALWAYS schema-qualify
            # remote table names, and our registered tables are flat
            # (public is PG's default schema). Function calls are the
            # other rule's job; `x.public` (column named public) is left.
            dot = significant(tokens, i)
            prev = significant(tokens, i, -1)
            if (dot >= 0 and tokens[dot].kind == PUNCT and
                    tokens[dot].text == "." and
                    not (prev >= 0 and tokens[prev].text == ".")):
                name = significant(tokens, dot)
                if name >= 0 and tokens[name].kind in (IDENT, QIDENT):
                    paren = significant(tokens, name)
                    if not (paren >= 0 and tokens[paren].text == "("):
                        del tokens[i:name]
                        continue
        if t.kind == IDENT and t.text.lower() in ("pg_catalog",
                                                  "information_schema"):
            dot = significant(tokens, i)
            if dot >= 0 and tokens[dot].kind == PUNCT and tokens[dot].text == ".":
                name = significant(tokens, dot)
                if name >= 0 and tokens[name].kind in (IDENT, QIDENT):
                    paren = significant(tokens, name)
                    if paren >= 0 and tokens[paren].text == "(":
                        i += 1
                        continue  # function call; other rule strips it
                    nm = tokens[name].text.strip('"').lower()
                    tokens[i:name + 1] = [
                        Token(IDENT, f"{t.text.lower()}_{nm}")]
                    continue
        elif t.kind == IDENT and t.text.lower() in PG_CATALOG_TABLES:
            prev = significant(tokens, i, -1)
            nxt = significant(tokens, i)
            if prev >= 0 and tokens[prev].kind == PUNCT and tokens[prev].text == ".":
                i += 1
                continue
            if nxt >= 0 and tokens[nxt].text == "(":
                i += 1
                continue
            if nxt >= 0 and tokens[nxt].kind == PUNCT and tokens[nxt].text == ".":
                # column-qualifier position (pg_namespace.oid): the table
                # reference in FROM/JOIN was rewritten to the flat view
                # name, so the qualifier must follow it (pg_-prefixed
                # names only — information_schema names like "columns"
                # are too generic to rewrite outside table position)
                nm2 = significant(tokens, nxt)
                if nm2 >= 0 and tokens[nm2].kind in (IDENT, QIDENT):
                    tokens[i] = Token(IDENT, f"pg_catalog_{t.text.lower()}")
                i += 1
                continue
            # only in table position: previous significant is FROM/JOIN/, etc.
            if prev >= 0 and (tokens[prev].is_kw("FROM", "JOIN", "INTO",
                                                 "UPDATE", "TABLE", "LATERAL")
                              or tokens[prev].text == ","):
                tokens[i] = Token(IDENT, f"pg_catalog_{t.text.lower()}")
        i += 1
    return tokens


# ---------------------------------------------------------------------------
# Rule: version() -> pg_version() [AS version]   (sql/rules.rs:1195-1230)

def rewrite_version(tokens: list[Token]) -> list[Token]:
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.kind == IDENT and t.text.lower() == "version":
            paren = significant(tokens, i)
            prev = significant(tokens, i, -1)
            if paren >= 0 and tokens[paren].text == "(" and not (
                    prev >= 0 and tokens[prev].text == "."):
                close = _match_fwd(tokens, paren)
                inner = [x for x in tokens[paren + 1:close] if x.kind != WS]
                if close >= 0 and not inner:
                    after = significant(tokens, close)
                    needs_alias = (after < 0 or tokens[after].text == "," or
                                   tokens[after].is_kw("FROM", "LIMIT"))
                    repl = _toks("pg_version()")
                    if needs_alias and not (after >= 0 and
                                            tokens[after].is_kw("AS")):
                        repl += _toks(" AS version")
                    tokens[i:close + 1] = repl
                    i += len(repl)
                    continue
        i += 1
    return tokens


# ---------------------------------------------------------------------------
# Rule: Postgres function names Spark spells differently — pure renames.
# (functions.md roadmap; Spark-native equivalents, SURVEY.md §2.9 tail)

FUNCTION_RENAMES = {
    "strpos": "instr",
    "array_to_string": "array_join",
    "array_length": "pg_array_length",     # registered SQL UDF (dim-aware)
    "array_upper": "pg_array_upper",
    "array_lower": "pg_array_lower",
    "string_to_array": "pg_string_to_array",
    "unnest": "explode",
    "to_regclass": "pg_to_regclass",
    "obj_description": "pg_obj_description",
    "col_description": "pg_col_description",
    "current_schema": "pg_current_schema",
    "current_schemas": "pg_current_schemas",
    "session_user": "pg_session_user",
    "current_database": "pg_current_database",
    # functions.md P1/P2 batch 3
    "make_timestamptz": "make_timestamp",  # same arg shape incl. tz arg
    "bit_count": "pg_bit_count",           # PG's is bytea/bit-string only
    "row_to_json": "to_json",              # struct/row input serializes
}

# JSON constructors/aggregates -> to_json over the Spark-native builder;
# rewritten as name(args) -> wrap(args))  (one extra close paren)
_JSON_WRAPS = {
    "json_agg": "to_json(collect_list",
    "jsonb_agg": "to_json(collect_list",
}

# calls whose result is already JSON text — spliced raw into enclosing
# JSON constructors instead of re-quoted as a string value
_JSON_VALUED_FNS = {
    "json_build_object", "jsonb_build_object", "json_build_array",
    "jsonb_build_array", "json_agg", "jsonb_agg", "json_object_agg",
    "jsonb_object_agg", "to_json", "row_to_json", "json_strip_nulls",
    "jsonb_strip_nulls",
}


def _is_json_valued(tokens: list[Token], s: int, e: int) -> bool:
    sig = [k for k in range(s, e) if tokens[k].kind != WS]
    if len(sig) < 2:
        return False
    t0 = tokens[sig[0]]
    return (t0.kind == IDENT and t0.text.lower() in _JSON_VALUED_FNS and
            tokens[sig[1]].text == "(" and
            _match_fwd(tokens, sig[1]) == sig[-1])


def _json_elem(tokens: list[Token], s: int, e: int) -> list[Token]:
    """Tokens rendering one argument in its JSON form.

    to_json(named_struct('x', v)) is '{"x":ELEM}' — ELEM sits at position
    6 through len-1. JSON-valued sub-calls pass through unquoted."""
    arg = list(tokens[s:e])
    if _is_json_valued(tokens, s, e):
        return arg
    seg = _toks("substr(to_json(named_struct('x', ")
    seg += arg
    seg += _toks("), map('ignoreNullFields', 'false')), 6, "
                 "length(to_json(named_struct('x', ")
    seg += arg
    seg += _toks("), map('ignoreNullFields', 'false'))) - 6)")
    return seg

# set-returning functions: table-valued in FROM position (SQL UDTF),
# explode(sequence(...)) in projection position
_SRF = {"generate_series": "pg_generate_series",
        "generate_subscripts": "pg_generate_subscripts"}


def rename_functions(tokens: list[Token]) -> list[Token]:
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        low = t.text.lower() if t.kind == IDENT else ""
        nxt = significant(tokens, i)
        prev = significant(tokens, i, -1)
        is_call = (low and nxt >= 0 and tokens[nxt].text == "(" and not
                   (prev >= 0 and tokens[prev].text == "."))
        if is_call and low in FUNCTION_RENAMES:
            tokens[i] = Token(IDENT, FUNCTION_RENAMES[low])
        elif is_call and low == "pg_get_keywords":
            # table function backed by a static view: drop the () pair
            tokens[i] = Token(IDENT, "pg_catalog_pg_get_keywords")
            close = _match_fwd(tokens, nxt)
            if close == significant(tokens, nxt):
                del tokens[nxt:close + 1]
        elif is_call and low in _JSON_WRAPS:
            close = _match_fwd(tokens, nxt)
            if close >= 0:
                # keep nulls: PG renders them; Spark's to_json drops them
                # unless ignoreNullFields is off
                tokens[close:close + 1] = _toks(
                    "), map('ignoreNullFields', 'false'))")
                tokens[i] = Token(IDENT, _JSON_WRAPS[low])
        elif is_call and low == "pg_typeof":
            # pg_typeof(expr) -> pg_typename(typeof(expr)): Spark's typeof
            # gives its own type names; the UDF maps them to PG names
            close = _match_fwd(tokens, nxt)
            if close >= 0:
                tokens.insert(close + 1, Token(PUNCT, ")"))
                tokens[i] = Token(IDENT, "pg_typename(typeof")
        elif is_call and low in _SRF:
            in_from = prev >= 0 and (
                tokens[prev].is_kw("FROM", "JOIN", "LATERAL") or
                tokens[prev].text == ",") and _table_position(tokens, prev)
            if in_from:
                tokens[i] = Token(IDENT, _SRF[low])
            elif low == "generate_series":
                # projection position: explode(sequence(args))
                close = _match_fwd(tokens, nxt)
                if close >= 0:
                    tokens.insert(close + 1, Token(PUNCT, ")"))
                    tokens[i] = Token(IDENT, "explode(sequence")
            else:
                # generate_subscripts projection position:
                # explode(sequence(1, size(arr)))  (dim arg: 1-D arrays)
                close = _match_fwd(tokens, nxt)
                args = _top_args(tokens, nxt, close) if close >= 0 else []
                if args:
                    s1, e1 = args[0]
                    repl = (_toks("explode(sequence(1, size(") +
                            tokens[s1:e1] + _toks(")))"))
                    tokens[i:close + 1] = repl
                    i += len(repl)
                    continue
                tokens[i] = Token(IDENT, _SRF[low])
        i += 1
    return tokens


def _table_position(tokens: list[Token], sep_idx: int) -> bool:
    """For a ',' separator, require that we're in a FROM list, not a
    function-argument or projection list: nearest enclosing context must not
    be an open paren."""
    if tokens[sep_idx].text != ",":
        return True
    depth = 0
    for i in range(sep_idx, -1, -1):
        t = tokens[i]
        if t.kind == PUNCT and t.text == ")":
            depth += 1
        elif t.kind == PUNCT and t.text == "(":
            if depth == 0:
                return False
            depth -= 1
        elif depth == 0 and t.is_kw("FROM"):
            return True
        elif depth == 0 and t.is_kw("SELECT", "WHERE", "HAVING", "ON"):
            return False
    return False


# ---------------------------------------------------------------------------
# Rule: PG JSON operators  a -> 'k' / a ->> 'k' / a #>> '{a,b}'  →
# get_json_object paths (functions.md JSON family; Spark's ':' variant
# exists but get_json_object is the stable public form).

def rewrite_json_ops(tokens: list[Token]) -> list[Token]:
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.kind == OP and t.text in ("->", "->>", "#>", "#>>"):
            rhs_idx = significant(tokens, i)
            if rhs_idx < 0 or tokens[rhs_idx].kind not in (STRING, NUMBER):
                i += 1
                continue
            lhs_start = _expr_start(tokens, i)
            lhs = tokens[lhs_start:i]
            while lhs and lhs[-1].kind == WS:
                lhs.pop()
            rhs = tokens[rhs_idx]
            if rhs.kind == NUMBER:
                path = f"'$[{rhs.text}]'"
            elif t.text in ("#>", "#>>"):
                # '{a,b}' path array -> $.a.b
                parts = rhs.text[1:-1].strip("{}").split(",")
                path = "'$." + ".".join(p.strip() for p in parts) + "'"
            else:
                key = rhs.text[1:-1]
                path = f"'$.{key}'"
            repl = ([Token(IDENT, "get_json_object"), Token(PUNCT, "(")] +
                    lhs + [Token(PUNCT, ","), Token(WS, " "),
                           Token(STRING, path), Token(PUNCT, ")")])
            tokens[lhs_start:rhs_idx + 1] = repl
            i = lhs_start + len(repl)
            continue
        i += 1
    return tokens


# ---------------------------------------------------------------------------
# Rule: SELECT DISTINCT ON (exprs) ... [ORDER BY o] — Postgres-only form,
# rewritten to the row_number()-over-window equivalent.

def rewrite_distinct_on(tokens: list[Token]) -> list[Token]:
    first = significant(tokens, -1)
    if first < 0 or not tokens[first].is_kw("SELECT"):
        return tokens
    d = significant(tokens, first)
    if d < 0 or not tokens[d].is_kw("DISTINCT"):
        return tokens
    on = significant(tokens, d)
    if on < 0 or not tokens[on].is_kw("ON"):
        return tokens
    open_idx = significant(tokens, on)
    if open_idx < 0 or tokens[open_idx].text != "(":
        return tokens
    close_idx = _match_fwd(tokens, open_idx)
    part_exprs = emit_tokens(tokens[open_idx + 1:close_idx]).strip()
    rest = tokens[close_idx + 1:]
    # split off top-level ORDER BY ... [LIMIT ...]
    depth = 0
    order_idx = -1
    for j, tok in enumerate(rest):
        if tok.kind == PUNCT and tok.text == "(":
            depth += 1
        elif tok.kind == PUNCT and tok.text == ")":
            depth -= 1
        elif depth == 0 and tok.is_kw("ORDER"):
            nxt = significant(rest, j)
            if nxt >= 0 and rest[nxt].is_kw("BY"):
                order_idx = j
                break
    if order_idx >= 0:
        body = emit_tokens(rest[:order_idx]).strip()
        tail_tokens = rest[order_idx:]
        # ORDER BY expr list up to LIMIT/OFFSET
        limit_idx = -1
        depth = 0
        for j, tok in enumerate(tail_tokens):
            if tok.kind == PUNCT and tok.text == "(":
                depth += 1
            elif tok.kind == PUNCT and tok.text == ")":
                depth -= 1
            elif depth == 0 and tok.is_kw("LIMIT", "OFFSET", "FETCH"):
                limit_idx = j
                break
        by_idx = significant(tail_tokens, significant(tail_tokens, -1))
        order_list = emit_tokens(
            tail_tokens[by_idx + 1:limit_idx if limit_idx >= 0 else None]
        ).strip()
        tail = emit_tokens(tail_tokens[limit_idx:]).strip() \
            if limit_idx >= 0 else ""
        order_sql = f" ORDER BY {order_list}"
        window_order = order_list
    else:
        body = emit_tokens(rest).strip()
        order_sql, tail = "", ""
        window_order = part_exprs
    # find the depth-0 FROM in the body tokens (never inside strings/parens)
    body_tokens = rest[:order_idx] if order_idx >= 0 else rest
    depth = 0
    from_tok = -1
    for j, tok in enumerate(body_tokens):
        if tok.kind == PUNCT and tok.text == "(":
            depth += 1
        elif tok.kind == PUNCT and tok.text == ")":
            depth -= 1
        elif depth == 0 and tok.is_kw("FROM"):
            from_tok = j
            break
    if from_tok < 0:
        return tokens
    select_list = emit_tokens(body_tokens[:from_tok]).strip()
    from_part = emit_tokens(body_tokens[from_tok:]).strip()
    new_sql = (f"SELECT {select_list} FROM (SELECT *, row_number() OVER "
               f"(PARTITION BY {part_exprs} ORDER BY {window_order}) AS "
               f"__pg_rn {from_part}) __pg_d WHERE __pg_rn = 1"
               f"{order_sql} {tail}")
    return _toks(new_sql.strip())


def emit_tokens(toks: list[Token]) -> str:
    return "".join(t.text for t in toks)


# ---------------------------------------------------------------------------
# Rule: to_char / to_date / to_timestamp with literal PG patterns — translate
# the template at rewrite time so the call stays a JVM builtin
# (functions.md 🚧 roadmap; pattern map in functions/formatting.py).

def rewrite_to_char(tokens: list[Token]) -> list[Token]:
    from datafusion_postgres_spark.functions.formatting import (
        translate_datetime_pattern)

    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        low = t.text.lower() if t.kind == IDENT else ""
        if low in ("to_char", "to_date", "to_timestamp"):
            open_idx = significant(tokens, i)
            if open_idx >= 0 and tokens[open_idx].text == "(":
                close = _match_fwd(tokens, open_idx)
                # find the last top-level argument if it is a string literal
                depth, comma = 0, -1
                for j in range(open_idx + 1, close):
                    tj = tokens[j]
                    if tj.kind == PUNCT and tj.text == "(":
                        depth += 1
                    elif tj.kind == PUNCT and tj.text == ")":
                        depth -= 1
                    elif tj.kind == PUNCT and tj.text == "," and depth == 0:
                        comma = j
                pat_idx = significant(tokens, comma) if comma > 0 else -1
                if pat_idx > 0 and tokens[pat_idx].kind == STRING and \
                        significant(tokens, pat_idx) == close:
                    pat = tokens[pat_idx].text[1:-1]
                    translated = translate_datetime_pattern(pat)
                    tokens[pat_idx] = Token(
                        STRING, "'" + translated.replace("'", "''") + "'")
                    if low == "to_char":
                        # numeric template (only 9/0/./,/FM/S): compile the
                        # literal pattern into round+decimal-cast (no commas)
                        # or format_number (with group separators)
                        if set(pat) <= set("90.,SFMLG$"):
                            d = (len(pat) - pat.index(".") - 1
                                 if "." in pat else 0)
                            expr = tokens[open_idx + 1:comma]
                            if "," in pat or "G" in pat:
                                repl = (_toks("format_number(") + expr +
                                        _toks(f", {d})"))
                            else:
                                repl = (_toks("CAST(CAST(round(") + expr +
                                        _toks(f", {d}) AS DECIMAL(38,{d})) "
                                              f"AS STRING)"))
                            tokens[i:close + 1] = repl
                            i += len(repl)
                            continue
                        tokens[i] = Token(IDENT, "date_format")
                    elif low == "to_date":
                        tokens[i] = Token(IDENT, "to_date")
                    else:
                        tokens[i] = Token(IDENT, "to_timestamp_ntz")
        i += 1
    return tokens


# ---------------------------------------------------------------------------
# Rule: remaining functions.md P1/P2 forms that need call-shape rewrites
# (not just renames): variadic num_nonnulls/num_nulls, 1-arg epoch
# to_timestamp, format()'s %I/%L, SIMILAR TO, LOCALTIME(STAMP) keywords,
# date_add/date_subtract with intervals, normalize()'s bare form keyword.

_NORMALIZE_FORMS = {"nfc", "nfd", "nfkc", "nfkd"}


def _similar_to_regex(pat: str) -> str:
    """SQL SIMILAR TO pattern -> Java regex: % -> .*, _ -> ., SQL-standard
    regex metachars (| * + ? ( ) [ ] { }) pass through, '.' is literal."""
    out, i = [], 0
    while i < len(pat):
        ch = pat[i]
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        elif ch == "\\" and i + 1 < len(pat):
            out.append("\\" + pat[i + 1])
            i += 1
        elif ch == ".":
            out.append("\\.")
        else:
            out.append(ch)
        i += 1
    return "^(?s)" + "".join(out) + "$"


def _top_args(tokens: list[Token], open_idx: int,
              close: int) -> list[tuple[int, int]]:
    """[start, end) token ranges of the top-level comma-separated args."""
    args, depth, start = [], 0, open_idx + 1
    for j in range(open_idx + 1, close):
        tj = tokens[j]
        if tj.kind == PUNCT and tj.text in ("(", "["):
            depth += 1
        elif tj.kind == PUNCT and tj.text in (")", "]"):
            depth -= 1
        elif tj.kind == PUNCT and tj.text == "," and depth == 0:
            args.append((start, j))
            start = j + 1
    if any(t.kind != WS for t in tokens[start:close]):
        args.append((start, close))
    return args


def rewrite_misc_functions(tokens: list[Token]) -> list[Token]:
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        low = t.text.lower() if t.kind == IDENT else ""
        prev = significant(tokens, i, -1)
        after_dot = prev >= 0 and tokens[prev].text == "."
        nxt = significant(tokens, i)
        has_paren = nxt >= 0 and tokens[nxt].text == "("

        # SIMILAR TO -> RLIKE (+ literal pattern translation)
        if t.is_kw("SIMILAR"):
            to_idx = significant(tokens, i)
            if to_idx >= 0 and tokens[to_idx].is_kw("TO"):
                pat_idx = significant(tokens, to_idx)
                if pat_idx >= 0 and tokens[pat_idx].kind == STRING:
                    pat = tokens[pat_idx].text[1:-1].replace("''", "'")
                    rx = _similar_to_regex(pat)
                    lit = rx.replace("\\", "\\\\").replace("'", "\\'")
                    tokens[pat_idx] = Token(STRING, "'" + lit + "'")
                tokens[i:to_idx + 1] = [Token(IDENT, "RLIKE")]
                i += 1
                continue

        # bare LOCALTIMESTAMP / LOCALTIME keywords
        if low == "localtimestamp" and not has_paren and not after_dot:
            tokens[i:i + 1] = _toks("localtimestamp()")
            i += 3
            continue
        if low == "localtime" and not has_paren and not after_dot:
            repl = _toks("date_format(localtimestamp(), 'HH:mm:ss')")
            tokens[i:i + 1] = repl
            i += len(repl)
            continue

        if not (has_paren and not after_dot):
            i += 1
            continue
        close = _match_fwd(tokens, nxt)
        if close < 0:
            i += 1
            continue
        args = _top_args(tokens, nxt, close)

        # precision forms LOCALTIME(p)/LOCALTIMESTAMP(p): Spark's
        # localtimestamp() takes no precision — drop it (micros kept)
        if low in ("localtime", "localtimestamp") and len(args) <= 1:
            arg = significant(tokens, nxt)
            if arg == close or tokens[arg].kind == NUMBER:
                repl = (_toks("localtimestamp()") if low == "localtimestamp"
                        else _toks("date_format(localtimestamp(), "
                                   "'HH:mm:ss')"))
                tokens[i:close + 1] = repl
                i += len(repl)
                continue

        if low in ("num_nonnulls", "num_nulls"):
            null_v, else_v = ("0", "1") if low == "num_nonnulls" else ("1", "0")
            repl: list[Token] = [Token(PUNCT, "(")]
            for k, (s, e) in enumerate(args):
                if k:
                    repl += _toks(" + ")
                repl += (_toks("CASE WHEN (") + tokens[s:e] +
                         _toks(f") IS NULL THEN {null_v} ELSE {else_v} END"))
            repl.append(Token(PUNCT, ")"))
            tokens[i:close + 1] = repl
            i += len(repl)
            continue

        if low == "to_timestamp" and len(args) == 1:
            # PG's 1-arg to_timestamp takes epoch seconds (double)
            tokens[i] = Token(IDENT, "timestamp_seconds")
        elif low in ("format", "sprintf"):
            s, e = args[0] if args else (nxt + 1, nxt + 1)
            first = significant(tokens, s - 1)
            if first < e and tokens[first].kind == STRING:
                body = tokens[first].text[1:-1]
                body = body.replace("%I", "%s").replace("%L", "%s")
                tokens[first] = Token(STRING, "'" + body + "'")
            tokens[i] = Token(IDENT, "format_string")
        elif low in ("date_add", "date_subtract") and len(args) == 2:
            s2, e2 = args[1]
            if any(tk.is_kw("INTERVAL") for tk in tokens[s2:e2]):
                s1, e1 = args[0]
                op = "+" if low == "date_add" else "-"
                repl = ([Token(PUNCT, "(")] + tokens[s1:e1] +
                        _toks(f" {op} ") + tokens[s2:e2] +
                        [Token(PUNCT, ")")])
                tokens[i:close + 1] = repl
                i += len(repl)
                continue
        elif low in ("ltrim", "rtrim") and len(args) == 2:
            # PG: ltrim(str, chars) / rtrim(str, chars); Spark's two-arg
            # forms are (trimStr, srcStr) — swap. (btrim agrees already.)
            (s1, e1), (s2, e2) = args

            def _arg(s, e):
                a = tokens[s:e]
                while a and a[0].kind == WS:
                    a = a[1:]
                while a and a[-1].kind == WS:
                    a = a[:-1]
                return a
            repl = ([tokens[i], Token(PUNCT, "(")] + _arg(s2, e2) +
                    [Token(PUNCT, ","), Token(WS, " ")] + _arg(s1, e1) +
                    [Token(PUNCT, ")")])
            tokens[i:close + 1] = repl
            i += len(repl)
            continue
        elif low in ("json_build_array", "jsonb_build_array"):
            # heterogeneous element types (Spark arrays can't mix): render
            # each element in its JSON form independently
            parts: list[Token] = []
            for s, e in args:
                if not any(tokens[k].kind != WS for k in range(s, e)):
                    continue
                if parts:
                    parts += _toks(", ")
                parts += _json_elem(tokens, s, e)
            if parts:
                repl = (_toks("concat('[', concat_ws(',', ") + parts +
                        _toks("), ']')"))
            else:
                repl = _toks("'[]'")
            tokens[i:close + 1] = repl
            continue  # rescan: spliced JSON sub-calls still need rewriting
        elif low in ("json_build_object", "jsonb_build_object"):
            pairs = [a for a in args
                     if any(tokens[k].kind != WS for k in range(a[0], a[1]))]
            if len(pairs) % 2 == 0:
                parts = []
                for j in range(0, len(pairs), 2):
                    if parts:
                        parts += _toks(", ")
                    parts += _toks("concat(")
                    parts += _json_elem(tokens, *pairs[j])
                    parts += _toks(", ':', ")
                    parts += _json_elem(tokens, *pairs[j + 1])
                    parts += _toks(")")
                if parts:
                    repl = (_toks("concat('{', concat_ws(',', ") + parts +
                            _toks("), '}')"))
                else:
                    repl = _toks("'{}'")
                tokens[i:close + 1] = repl
                continue  # rescan for spliced JSON sub-calls
        elif low in ("json_agg", "jsonb_agg") and len(args) == 1 and \
                _is_json_valued(tokens, *args[0]):
            # aggregating already-JSON values: join raw, don't re-quote
            s1, e1 = args[0]
            repl = (_toks("concat('[', array_join(collect_list(") +
                    list(tokens[s1:e1]) + _toks("), ','), ']')"))
            tokens[i:close + 1] = repl
            continue  # rescan for spliced JSON sub-calls
        elif low in ("json_object_agg", "jsonb_object_agg") and \
                len(args) == 2:
            (s1, e1), (s2, e2) = args
            repl = (_toks("to_json(map_from_arrays(collect_list(") +
                    tokens[s1:e1] + _toks("), collect_list(") +
                    tokens[s2:e2] + _toks(")))"))
            tokens[i:close + 1] = repl
            continue  # rescan for spliced JSON sub-calls
        elif low == "date_bin" and args:
            # PG coerces a bare string stride ('15 minutes') to interval;
            # Spark needs the INTERVAL keyword to parse multi-unit text
            s1, e1 = args[0]
            sig = [k for k in range(s1, e1) if tokens[k].kind != WS]
            if len(sig) == 1 and tokens[sig[0]].kind == STRING:
                tokens[sig[0]:sig[0]] = [Token(IDENT, "INTERVAL"),
                                         Token(WS, " ")]
        elif low == "normalize" and args:
            s2, e2 = args[-1]
            fk = significant(tokens, s2 - 1)
            if (fk < e2 and tokens[fk].kind == IDENT and
                    tokens[fk].text.lower() in _NORMALIZE_FORMS):
                tokens[fk] = Token(
                    STRING, "'" + tokens[fk].text.upper() + "'")
        i += 1
    return tokens


# ---------------------------------------------------------------------------
# Rule: 1-based array subscript  col[2] -> element_at(col, 2)
# (PG arrays are 1-indexed; Spark's col[i] is 0-indexed but element_at is
# 1-indexed, matching PG). Only plain identifier[NUMBER] is rewritten —
# type-suffix brackets were consumed by the cast rules before this runs.

def rewrite_array_subscript(tokens: list[Token]) -> list[Token]:
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.kind == PUNCT and t.text == "[":
            prev = significant(tokens, i, -1)
            num = significant(tokens, i)
            prev_ok = prev >= 0 and (
                (tokens[prev].kind in (IDENT, QIDENT) and
                 not tokens[prev].is_kw("ARRAY")) or
                (tokens[prev].kind == PUNCT and tokens[prev].text in (")", "]")))
            if prev_ok and num >= 0 and tokens[num].kind == NUMBER:
                close = significant(tokens, num)
                if close >= 0 and tokens[close].text == "]":
                    start = _expr_start(tokens, i)
                    expr = tokens[start:i]
                    repl = ([Token(IDENT, "element_at"), Token(PUNCT, "(")] +
                            expr + [Token(PUNCT, ","), Token(WS, " "),
                                    tokens[num], Token(PUNCT, ")")])
                    tokens[start:close + 1] = repl
                    i = start + len(repl)
                    continue
        i += 1
    return tokens


def rewrite_array_constructor(tokens: list[Token]) -> list[Token]:
    """PG ``ARRAY[elem, ...]`` constructor → Spark ``array(elem, ...)``.

    Nested constructors (``ARRAY[ARRAY[1], ARRAY[2]]``) are handled by the
    continued scan over the rewritten body.

    The ``ARRAY(SELECT expr FROM ...)`` subquery form becomes the scalar
    subquery ``(SELECT collect_list(expr) FROM ...)`` when the projection
    is a single expression (the common idiom). A trailing ``ORDER BY`` in
    the subquery does not order the array (collect_list has no intra-group
    order) — PG users needing order should use array_agg(x ORDER BY y)."""
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.kind == IDENT and t.is_kw("ARRAY"):
            j = significant(tokens, i)
            if j >= 0 and tokens[j].kind == PUNCT and tokens[j].text == "[":
                close = _match_fwd(tokens, j)
                if close >= 0:
                    tokens[close] = Token(PUNCT, ")")
                    tokens[j] = Token(PUNCT, "(")
                    tokens[i] = Token(IDENT, "array")
                    del tokens[i + 1:j]
                    i += 1
                    continue
            elif (j >= 0 and tokens[j].kind == PUNCT and
                    tokens[j].text == "("):
                sel = significant(tokens, j)
                close = _match_fwd(tokens, j)
                if sel >= 0 and close >= 0 and tokens[sel].is_kw("SELECT"):
                    # find FROM at depth 0 inside the subquery; projection
                    # between SELECT and FROM must be comma-free (single
                    # expression) for the rewrite to be sound
                    depth = 0
                    from_idx = -1
                    single = True
                    for k in range(sel + 1, close):
                        tk = tokens[k]
                        if tk.kind == PUNCT and tk.text in "([":
                            depth += 1
                        elif tk.kind == PUNCT and tk.text in ")]":
                            depth -= 1
                        elif depth == 0 and tk.is_kw("FROM"):
                            from_idx = k
                            break
                        elif depth == 0 and tk.kind == PUNCT and \
                                tk.text == ",":
                            single = False
                    if from_idx > 0 and single:
                        tokens[from_idx:from_idx] = [Token(PUNCT, ")"),
                                                     Token(WS, " ")]
                        tokens[sel + 1:sel + 1] = _toks(" collect_list(")
                        del tokens[i:j]  # drop ARRAY, keep the '('
                        i += 1
                        continue
        i += 1
    return tokens


# PG extract()/date_part() fields Spark lacks (or counts differently:
# Spark's dow is 1-7 Sunday-first, PG's is 0-6) → equivalent expressions
_EXTRACT_REWRITES = {
    "dow": "(extract(dayofweek FROM {X}) - 1)",
    "isodow": "(weekday(cast({X} AS DATE)) + 1)",
    "decade": "cast(floor(extract(year FROM {X}) / 10) AS BIGINT)",
    "century":
        "cast(floor((extract(year FROM {X}) - 1) / 100) + 1 AS BIGINT)",
    "millennium":
        "cast(floor((extract(year FROM {X}) - 1) / 1000) + 1 AS BIGINT)",
    "isoyear": "extract(yearofweek FROM {X})",
    "microseconds": "cast(extract(second FROM {X}) * 1000000 AS BIGINT)",
    "milliseconds": "(extract(second FROM {X}) * 1000)",
}


def _apply_extract_template(tokens, start, end, field, expr):
    """Splice template(field) with {X} = expr into tokens[start:end]."""
    if field == "epoch":
        is_interval = any(tk.is_kw("INTERVAL") for tk in expr)
        tmpl = "pg_epoch_iv({X})" if is_interval else "pg_epoch_ts({X})"
    else:
        tmpl = _EXTRACT_REWRITES[field]
    pre, post = tmpl.split("{X}")
    repl = _toks(pre) + list(expr) + _toks(post)
    tokens[start:end] = repl
    return len(repl)


def rewrite_extract_fields(tokens: list[Token]) -> list[Token]:
    """``extract(epoch/dow/isodow/decade/... FROM x)`` and the
    ``date_part('field', x)`` twin → Spark-expressible forms. Fields
    Spark supports natively with PG-matching values pass through."""
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        low = t.text.lower() if t.kind == IDENT else ""
        nxt = significant(tokens, i)
        has_paren = nxt >= 0 and tokens[nxt].text == "("
        if low == "extract" and has_paren:
            close = _match_fwd(tokens, nxt)
            fidx = significant(tokens, nxt)
            fromk = significant(tokens, fidx) if fidx >= 0 else -1
            if close >= 0 and fidx >= 0 and fromk >= 0 and \
                    tokens[fromk].is_kw("FROM") and \
                    tokens[fidx].kind in (IDENT, STRING):
                field = tokens[fidx].text.strip("'").lower()
                if field == "epoch" or field in _EXTRACT_REWRITES:
                    expr = [tk for tk in tokens[fromk + 1:close]]
                    while expr and expr[0].kind == WS:
                        expr.pop(0)
                    while expr and expr[-1].kind == WS:
                        expr.pop()
                    i += _apply_extract_template(tokens, i, close + 1,
                                                 field, expr)
                    continue
        elif low == "date_part" and has_paren:
            close = _match_fwd(tokens, nxt)
            args = _top_args(tokens, nxt, close) if close >= 0 else []
            if len(args) == 2:
                (s1, e1), (s2, e2) = args
                f = significant(tokens, s1 - 1)
                if f < e1 and tokens[f].kind == STRING:
                    field = tokens[f].text.strip("'").lower()
                    if field == "epoch" or field in _EXTRACT_REWRITES:
                        expr = [tk for tk in tokens[s2:e2]
                                if tk.kind != WS or True]
                        while expr and expr[0].kind == WS:
                            expr.pop(0)
                        while expr and expr[-1].kind == WS:
                            expr.pop()
                        i += _apply_extract_template(tokens, i, close + 1,
                                                     field, expr)
                        continue
        i += 1
    return tokens


def rewrite_between_overlaps(tokens: list[Token]) -> list[Token]:
    """``x BETWEEN SYMMETRIC a AND b`` → ``x BETWEEN least(a,b) AND
    greatest(a,b)``; ``(s1,e1) OVERLAPS (s2,e2)`` → the normalized
    half-open comparison PG defines (bounds may be given in either
    order)."""
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.is_kw("BETWEEN"):
            sym = significant(tokens, i)
            if sym >= 0 and tokens[sym].is_kw("SYMMETRIC"):
                b1_end = _expr_end(tokens, sym)
                and_idx = significant(tokens, b1_end) if b1_end >= 0 else -1
                if and_idx >= 0 and tokens[and_idx].is_kw("AND"):
                    b2_end = _expr_end(tokens, and_idx)
                    if b2_end >= 0:
                        b1 = [tk for tk in
                              tokens[significant(tokens, sym):b1_end + 1]]
                        b2 = [tk for tk in
                              tokens[significant(tokens, and_idx):
                                     b2_end + 1]]
                        repl = (_toks("BETWEEN least(") + b1 +
                                _toks(", ") + b2 +
                                _toks(") AND greatest(") + b1 +
                                _toks(", ") + b2 + _toks(")"))
                        tokens[i:b2_end + 1] = repl
                        i += len(repl)
                        continue
        elif t.kind == IDENT and t.is_kw("OVERLAPS"):
            prev = significant(tokens, i, -1)
            nxt = significant(tokens, i)
            if prev >= 0 and tokens[prev].text == ")" and nxt >= 0 and \
                    tokens[nxt].text == "(":
                lopen = _match_back(tokens, prev)
                rclose = _match_fwd(tokens, nxt)
                if lopen >= 0 and rclose >= 0:
                    largs = _top_args(tokens, lopen, prev)
                    rargs = _top_args(tokens, nxt, rclose)
                    if len(largs) == 2 and len(rargs) == 2:
                        s1 = list(tokens[largs[0][0]:largs[0][1]])
                        e1 = list(tokens[largs[1][0]:largs[1][1]])
                        s2 = list(tokens[rargs[0][0]:rargs[0][1]])
                        e2 = list(tokens[rargs[1][0]:rargs[1][1]])
                        repl = (_toks("(least(") + s1 + _toks(",") + e1 +
                                _toks(") < greatest(") + s2 + _toks(",") +
                                e2 + _toks(") AND least(") + s2 +
                                _toks(",") + e2 + _toks(") < greatest(") +
                                s1 + _toks(",") + e1 + _toks("))"))
                        tokens[lopen:rclose + 1] = repl
                        i = lopen + len(repl)
                        continue
        i += 1
    return tokens


def rewrite_tablesample(tokens: list[Token]) -> list[Token]:
    """``TABLESAMPLE BERNOULLI(n) / SYSTEM(n)`` → ``TABLESAMPLE (n
    PERCENT)``. Spark samples per-split (closer to SYSTEM) with one
    row-level Bernoulli path — the method name carries no semantic
    the optimizer honors, so both map to the percent form. REPEATABLE
    passes through (Spark supports it)."""
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.is_kw("TABLESAMPLE"):
            m = significant(tokens, i)
            if m >= 0 and tokens[m].kind == IDENT and \
                    tokens[m].text.upper() in ("BERNOULLI", "SYSTEM"):
                p = significant(tokens, m)
                if p >= 0 and tokens[p].text == "(":
                    close = _match_fwd(tokens, p)
                    if close >= 0:
                        tokens[close:close] = [Token(WS, " "),
                                               Token(IDENT, "PERCENT")]
                        tokens[i + 1:p] = [Token(WS, " ")]
                        i += 1
                        continue
        i += 1
    return tokens


def rewrite_explain(tokens: list[Token]) -> list[Token]:
    """PG EXPLAIN forms → Spark EXPLAIN.

    ``EXPLAIN (ANALYZE, BUFFERS, FORMAT ...) stmt`` loses its option list
    (Spark has no per-option parity); ``VERBOSE`` maps to EXTENDED and
    ``ANALYZE`` to FORMATTED (the closest Spark mode — Spark cannot report
    per-operator runtimes, an honest capability gate). Output is Spark's
    single ``plan`` column rather than PG's ``QUERY PLAN`` rows."""
    first = significant(tokens, -1)
    if first < 0 or not tokens[first].is_kw("EXPLAIN"):
        return tokens
    tokens = list(tokens)
    mode = ""
    j = significant(tokens, first)
    if j >= 0 and tokens[j].kind == PUNCT and tokens[j].text == "(":
        close = _match_fwd(tokens, j)
        if close < 0:
            return tokens
        opts = " ".join(t.text.upper() for t in tokens[j + 1:close]
                        if t.kind != WS)
        if "VERBOSE" in opts:
            mode = "EXTENDED"
        elif "ANALYZE" in opts:
            mode = "FORMATTED"
        del tokens[j:close + 1]
    else:
        while True:
            j = significant(tokens, first)
            if j >= 0 and tokens[j].kind == IDENT and \
                    tokens[j].text.upper() in ("ANALYZE", "VERBOSE"):
                mode = ("EXTENDED" if tokens[j].text.upper() == "VERBOSE"
                        else mode or "FORMATTED")
                del tokens[j:j + 1]
            else:
                break
    if mode:
        tokens[first + 1:first + 1] = [Token(WS, " "), Token(IDENT, mode)]
    return tokens


def rewrite_at_time_zone(tokens: list[Token]) -> list[Token]:
    """``expr AT TIME ZONE 'tz'`` → ``timezone('tz', expr)`` — the same
    registered function PG exposes for the operator form."""
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.kind == IDENT and t.text.upper() == "AT":
            j = significant(tokens, i)
            k = significant(tokens, j) if j >= 0 else -1
            if (j >= 0 and tokens[j].text.upper() == "TIME" and k >= 0
                    and tokens[k].text.upper() == "ZONE"):
                tz_idx = significant(tokens, k)
                if tz_idx >= 0:
                    tz_end = _expr_end(tokens, k)
                    if tz_end < 0:
                        tz_end = tz_idx
                    start = _expr_start(tokens, i)
                    # include typed-literal prefixes (timestamp '...')
                    if tokens[start].kind == STRING:
                        p = significant(tokens, start, -1)
                        if p >= 0 and tokens[p].kind == IDENT and \
                                tokens[p].text.lower() in (
                                    "timestamp", "timestamptz", "date",
                                    "time", "interval"):
                            start = p
                    expr = tokens[start:i]
                    while expr and expr[-1].kind == WS:
                        expr.pop()
                    tz = tokens[tz_idx:tz_end + 1]
                    repl = ([Token(IDENT, "timezone"), Token(PUNCT, "(")] +
                            tz + [Token(PUNCT, ","), Token(WS, " ")] +
                            expr + [Token(PUNCT, ")")])
                    tokens[start:tz_end + 1] = repl
                    i = start + len(repl)
                    continue
        i += 1
    return tokens


def rewrite_fetch_offset(tokens: list[Token]) -> list[Token]:
    """SQL-standard limit clauses (what JDBC/ORMs emit against PG):

    ``OFFSET n {ROW|ROWS}`` → ``OFFSET n``;
    ``FETCH {FIRST|NEXT} [n] {ROW|ROWS} ONLY`` → ``LIMIT n`` (default 1).
    """
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.is_kw("OFFSET"):
            n_idx = significant(tokens, i)
            if n_idx >= 0 and tokens[n_idx].kind == NUMBER:
                r_idx = significant(tokens, n_idx)
                if r_idx >= 0 and tokens[r_idx].is_kw("ROW", "ROWS"):
                    del tokens[n_idx + 1:r_idx + 1]
            i += 1
            continue
        if t.is_kw("FETCH"):
            j = significant(tokens, i)
            if j < 0 or not tokens[j].is_kw("FIRST", "NEXT"):
                i += 1
                continue
            k = significant(tokens, j)
            if k >= 0 and tokens[k].kind == NUMBER:
                n_txt = tokens[k].text
                k2 = significant(tokens, k)
            else:
                n_txt = "1"
                k2 = k
            if k2 < 0 or not tokens[k2].is_kw("ROW", "ROWS"):
                i += 1
                continue
            only_idx = significant(tokens, k2)
            if only_idx < 0 or not tokens[only_idx].is_kw("ONLY"):
                i += 1
                continue
            tokens[i:only_idx + 1] = [Token(IDENT, "LIMIT"), Token(WS, " "),
                                      Token(NUMBER, n_txt)]
            continue
        i += 1
    # Spark's grammar wants LIMIT before OFFSET; PG accepts either order,
    # and the standard form puts OFFSET first — swap when needed
    i = 0
    while i < len(tokens):
        if tokens[i].is_kw("OFFSET"):
            n_idx = significant(tokens, i)
            lim_idx = significant(tokens, n_idx) if n_idx >= 0 else -1
            if (n_idx >= 0 and tokens[n_idx].kind == NUMBER and lim_idx >= 0
                    and tokens[lim_idx].is_kw("LIMIT")):
                m_idx = significant(tokens, lim_idx)
                if m_idx >= 0 and tokens[m_idx].kind == NUMBER:
                    tokens[i:m_idx + 1] = [
                        Token(IDENT, "LIMIT"), Token(WS, " "),
                        Token(NUMBER, tokens[m_idx].text), Token(WS, " "),
                        Token(IDENT, "OFFSET"), Token(WS, " "),
                        Token(NUMBER, tokens[n_idx].text)]
        i += 1
    return tokens


def rewrite_row_constructor(tokens: list[Token]) -> list[Token]:
    """``ROW(a, b)`` value constructor → ``struct(a, b)`` (Spark structs
    compare field-wise like PG composites)."""
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.kind == IDENT and t.text.upper() == "ROW":
            nxt = significant(tokens, i)
            prev = significant(tokens, i, -1)
            if nxt >= 0 and tokens[nxt].text == "(" and not (
                    prev >= 0 and tokens[prev].text == "."):
                tokens[i] = Token(IDENT, "struct")
        i += 1
    return tokens


def rewrite_substring_regex(tokens: list[Token]) -> list[Token]:
    """PG's regex form ``substring(x FROM 'pattern')`` → Spark
    ``regexp_substr(x, 'pattern')`` (first match or NULL). Deviation:
    PG returns capture group 1 when the pattern has one; we return the
    whole match. The positional ``FROM n [FOR m]`` form parses natively
    in Spark and is left alone."""
    tokens = list(tokens)
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.kind == IDENT and t.text.lower() == "substring":
            open_idx = significant(tokens, i)
            if open_idx >= 0 and tokens[open_idx].text == "(":
                close = _match_fwd(tokens, open_idx)
                if close >= 0:
                    # find a top-level FROM followed by a string literal
                    depth = 0
                    for j in range(open_idx + 1, close):
                        tk = tokens[j]
                        if tk.kind == PUNCT and tk.text == "(":
                            depth += 1
                        elif tk.kind == PUNCT and tk.text == ")":
                            depth -= 1
                        elif depth == 0 and tk.is_kw("FROM"):
                            p_idx = significant(tokens, j)
                            after = significant(tokens, p_idx) \
                                if p_idx >= 0 else -1
                            if (p_idx >= 0 and tokens[p_idx].kind == STRING
                                    and after == close):
                                start = j
                                while start > open_idx + 1 and \
                                        tokens[start - 1].kind == WS:
                                    start -= 1
                                tokens[start:p_idx] = [Token(PUNCT, ","),
                                                       Token(WS, " ")]
                                tokens[i] = Token(IDENT, "regexp_substr")
                            break
        i += 1
    return tokens


# Rule order mirrors sql/parser.rs:314-334 where a counterpart exists.
# ---------------------------------------------------------------------------
# Rule (LAST): PG double-quoted identifiers → Spark backticks.
# In PG, "x" is an IDENTIFIER; Spark (doubleQuotedIdentifiers off) parses
# it as a string literal — so `SELECT "n_name" FROM t` silently returned
# the LITERAL 'n_name' instead of the column, and `FROM "t"` was a syntax
# error. JDBC drivers, ORMs and postgres_fdw deparse quote identifiers
# routinely. Runs last so earlier rules still see QIDENT tokens in PG
# spelling; `""` unescapes to `"`, backticks escape by doubling.

def rewrite_quoted_identifiers(tokens: list[Token]) -> list[Token]:
    out = []
    for t in tokens:
        if t.kind == QIDENT:
            inner = t.text[1:-1].replace('""', '"').replace("`", "``")
            out.append(Token(IDENT, f"`{inner}`"))
        else:
            out.append(t)
    return out



# ---------------------------------------------------------------------------
# Rule: information_schema._pg_expandarray — the set-returning helper the
# modern pgjdbc getPrimaryKeys/getIndexInfo queries expand index key
# vectors with, in PROJECTION position with PG's lock-step SRF semantics
# (every SRF call in the same select list advances together):
#
#   SELECT ..., (information_schema._pg_expandarray(i.indkey)).n AS SEQ,
#          information_schema._pg_expandarray(i.indkey) AS KEYS ...
#
# Spark allows ONE generator per select list, so the bare aliased call
# becomes the generator -- explode over transform to (x, n) structs --
# and every composite access ((...).n / (...).x) becomes a lateral
# column-alias reference to it (Spark resolves those in either order).
# A lone composite access needs no struct at all: .n is a position
# sequence, .x the element explode.

def rewrite_pg_expandarray(tokens: list[Token]) -> list[Token]:
    toks = list(tokens)
    occ = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == IDENT and t.text.lower() == "_pg_expandarray":
            nxt = significant(toks, i)
            if nxt >= 0 and toks[nxt].text == "(":
                close = _match_fwd(toks, nxt)
                if close < 0:
                    i += 1
                    continue
                start = i
                p1 = significant(toks, i, -1)
                if p1 >= 0 and toks[p1].text == ".":
                    p2 = significant(toks, p1, -1)
                    if p2 >= 0 and toks[p2].kind == IDENT:
                        start = p2
                comp = None
                alias = None
                pb = significant(toks, start, -1)
                na = significant(toks, close)
                if (pb >= 0 and toks[pb].text == "(" and na >= 0
                        and toks[na].text == ")"):
                    nd = significant(toks, na)
                    if nd >= 0 and toks[nd].text == ".":
                        nf = significant(toks, nd)
                        if nf >= 0 and toks[nf].kind == IDENT:
                            comp = (pb, nf)
                if comp is None and na >= 0 and toks[na].is_kw("AS"):
                    ai = significant(toks, na)
                    if ai >= 0 and toks[ai].kind == IDENT:
                        alias = toks[ai].text
                occ.append({"start": start, "open": nxt, "close": close,
                            "comp": comp, "alias": alias})
                i = close
        i += 1
    if not occ:
        return toks
    gen = next((o for o in occ if o["comp"] is None and o["alias"]), None)
    # Safety: the lock-step rewrite is only sound when every occurrence
    # expands the SAME array (pgjdbc emits exactly that shape).  With
    # differing arguments a comp occurrence would silently alias the
    # wrong generator; and without a shared aliased call, multiple
    # occurrences would each become their own explode() -- more than
    # one generator per select list is a Spark analysis error.  In
    # either case leave the SQL untouched so the engine surfaces a
    # clear error instead of wrong rows.
    args = {
        tuple(t.text.lower() for t in toks[o["open"] + 1:o["close"]]
              if t.kind != WS)
        for o in occ
    }
    if len(args) > 1:
        return toks
    n_generators = 1 if gen is not None else len(occ)
    if n_generators > 1:
        return toks

    def expand_sql(arg: list[Token]) -> list[Token]:
        return (_toks("explode(transform(") + list(arg) +
                _toks(", (__xe, __ie) -> named_struct('x', __xe, 'n', "
                      "CAST(__ie + 1 AS INT))))"))

    out = toks
    for o in sorted(occ, key=lambda o: o["start"], reverse=True):
        arg = out[o["open"] + 1:o["close"]]
        if o["comp"] is not None:
            pb, nf = o["comp"]
            field = out[nf].text.lower()
            if gen is not None and o is not gen:
                repl = _toks(f"{gen['alias']}.{out[nf].text}")
            elif field == "n":
                repl = _toks("explode(sequence(1, size(") + list(arg) +                     _toks(")))")
            else:
                repl = _toks("explode(") + list(arg) + _toks(")")
            out[pb:nf + 1] = repl
        elif o is gen or gen is None:
            out[o["start"]:o["close"] + 1] = expand_sql(arg)
        else:
            out[o["start"]:o["close"] + 1] = _toks(gen["alias"])
    return out


# ---------------------------------------------------------------------------
# jsonpath literal routing.
#
# The jsonb_path_* SQL UDFs carry a runtime CASE dispatch whose slow
# branch is a Pandas UDF. A Python UDF anywhere in a SQL UDF body blocks
# parameter inlining (the literal path never constant-folds), so EVERY
# call — even a plain member path — plans an ArrowEvalPython per row.
# When the path argument is a string LITERAL (every PG client / ORM
# shape), this rule decides the route at transpile time instead: plain
# member paths -> the get_json_object body, single-predicate filters ->
# the pure-codegen variant body, everything else -> the Python evaluator
# directly. Plans for the fast shapes then contain no Python node.

_JP_FN_ROUTES = {
    "jsonb_path_query_first": ("pg_jsonpath_plain_first",
                               "pg_jsonpath_pred_first",
                               "pg_jsonpath_filter_first"),
    "json_path_query_first": ("pg_jsonpath_plain_first",
                              "pg_jsonpath_pred_first",
                              "pg_jsonpath_filter_first"),
    "jsonb_path_exists": ("pg_jsonpath_plain_exists",
                          "pg_jsonpath_pred_exists",
                          "pg_jsonpath_filter_exists"),
    "json_path_exists": ("pg_jsonpath_plain_exists",
                         "pg_jsonpath_pred_exists",
                         "pg_jsonpath_filter_exists"),
    "jsonb_path_match": ("pg_jsonpath_plain_match", None,
                         "pg_jsonpath_filter_match"),
}
_JP_PLAIN_PATH = re.compile(r"^\$(\.[A-Za-z_][A-Za-z0-9_]*|\[\d+\])*$")
_JP_SINGLE_PRED = re.compile(
    r"^\$\.[A-Za-z_]\w*(\[\*\])? *\? *\( *@\.[A-Za-z_]\w* *"
    r'(==|!=|<>|<=|>=|<|>) *(-?[0-9][0-9.]*|"[^"]*") *\) *'
    r"(\.[A-Za-z_]\w*)?$")


def route_jsonpath_literals(tokens: list[Token]) -> list[Token]:
    toks = list(tokens)
    i = 0
    while i < len(toks):
        t = toks[i]
        # first-char gate before lowercasing: every routed name starts
        # with 'j', so the common token never allocates a lowered copy
        # (measured: the unconditional lower() cost ~26µs/stmt on the
        # dialect microbench)
        low = (t.text.lower()
               if t.kind == IDENT and t.text[:1] in ("j", "J") else "")
        if low in _JP_FN_ROUTES:
            nxt = significant(toks, i)
            prev = significant(toks, i, -1)
            if (nxt >= 0 and toks[nxt].text == "(" and
                    not (prev >= 0 and toks[prev].text == ".")):
                close = _match_fwd(toks, nxt)
                args = _top_args(toks, nxt, close) if close > 0 else []
                if len(args) == 2:
                    seg = [toks[k] for k in range(*args[1])
                           if toks[k].kind != WS]
                    if len(seg) == 1 and seg[0].kind == STRING:
                        path = seg[0].text[1:-1]
                        plain, pred, flt = _JP_FN_ROUTES[low]
                        if _JP_PLAIN_PATH.match(path):
                            toks[i] = Token(IDENT, plain)
                        elif pred and _JP_SINGLE_PRED.match(path):
                            toks[i] = Token(IDENT, pred)
                        else:
                            toks[i] = Token(IDENT, flt)
        i += 1
    return toks


ALL_RULES = [
    rewrite_explain,
    rewrite_abort,
    rewrite_truncate,
    rewrite_distinct_on,
    rewrite_pg_operator,
    rewrite_json_ops,
    rewrite_any_all,
    rewrite_setlike_ops,
    rewrite_pg_expandarray,
    fix_array_literals,
    rewrite_catalog_names,
    strip_callable_qualifier,
    rewrite_session_vars,
    strip_collate,
    rewrite_regex_ops,
    rewrite_reg_casts,
    map_cast_types,
    map_ddl_types,
    rewrite_version,
    rewrite_to_char,
    rewrite_extract_fields,
    rewrite_between_overlaps,
    rewrite_misc_functions,
    rewrite_tablesample,
    rewrite_at_time_zone,
    rewrite_fetch_offset,
    rewrite_row_constructor,
    rewrite_substring_regex,
    rewrite_array_constructor,
    rewrite_array_subscript,
    route_jsonpath_literals,
    rename_functions,
    rewrite_quoted_identifiers,
]
