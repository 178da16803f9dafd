"""Lightweight Postgres SQL tokenizer.

The reference tokenizes with sqlparser's ``PostgreSqlDialect`` before its
blacklist substitution and rewrite rules
(``datafusion-pg-catalog/src/sql/parser.rs:288-335``). We do not need a full
AST for the rule set we implement — a faithful token stream (strings,
dollar-quotes, quoted identifiers, comments, multi-char operators) is enough
and keeps the transpile step cheap (BASELINE.md: parsing must be cheap
relative to execution; the tokenizer is regex-free on the hot path).
"""

from __future__ import annotations

from dataclasses import dataclass

# Token kinds
WS = "ws"           # whitespace / comments (preserved for lossless re-emit)
STRING = "string"   # '...' or E'...' (value excludes quotes, escapes kept raw)
DOLLAR = "dollar"   # $tag$...$tag$
QIDENT = "qident"   # "..." quoted identifier
IDENT = "ident"     # unquoted identifier / keyword
NUMBER = "number"
OP = "op"           # operators incl. ::, ~*, !~*, <=, >=, <>, !=, ||
PUNCT = "punct"     # ( ) , ; . [ ]
PARAM = "param"     # $1 $2 ... extended-protocol placeholders

MULTI_OPS = ("!~*", "!~", "~*", "::", "<=", ">=", "<>", "!=", "||", "->>",
             "->", "#>>", "#>", "@@", "@?", "@>", "<@", "&&")
SINGLE_OPS = "~<>=+-*/%^&|#@"
PUNCTS = "(),;.[]:"


@dataclass
class Token:
    kind: str
    text: str

    def is_kw(self, *words: str) -> bool:
        return self.kind == IDENT and self.text.upper() in words


def tokenize(sql: str) -> list[Token]:
    toks: list[Token] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        # whitespace
        if c.isspace():
            j = i
            while j < n and sql[j].isspace():
                j += 1
            toks.append(Token(WS, sql[i:j]))
            i = j
            continue
        # line comment
        if c == "-" and i + 1 < n and sql[i + 1] == "-":
            j = sql.find("\n", i)
            j = n if j < 0 else j
            toks.append(Token(WS, sql[i:j]))
            i = j
            continue
        # block comment (nested per Postgres)
        if c == "/" and i + 1 < n and sql[i + 1] == "*":
            depth, j = 1, i + 2
            while j < n and depth:
                if sql[j:j + 2] == "/*":
                    depth += 1
                    j += 2
                elif sql[j:j + 2] == "*/":
                    depth -= 1
                    j += 2
                else:
                    j += 1
            toks.append(Token(WS, sql[i:j]))
            i = j
            continue
        # string literal (with E'' prefix and '' doubling)
        if c == "'" or (c in "eE" and i + 1 < n and sql[i + 1] == "'"):
            j = i + (2 if c in "eE" else 1)
            is_escape = c in "eE"
            while j < n:
                if sql[j] == "\\" and is_escape:
                    j += 2
                    continue
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            toks.append(Token(STRING, sql[i:j + 1]))
            i = j + 1
            continue
        # dollar-quoted string
        if c == "$":
            j = i + 1
            while j < n and (sql[j].isalnum() or sql[j] == "_"):
                j += 1
            if j < n and sql[j] == "$":
                tag = sql[i:j + 1]
                end = sql.find(tag, j + 1)
                end = n if end < 0 else end + len(tag)
                toks.append(Token(DOLLAR, sql[i:end]))
                i = end
                continue
            if j > i + 1 and sql[i + 1:j].isdigit():
                toks.append(Token(PARAM, sql[i:j]))
                i = j
                continue
            # bare $ — treat as operator char
            toks.append(Token(OP, c))
            i += 1
            continue
        # quoted identifier
        if c == '"':
            j = i + 1
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':
                        j += 2
                        continue
                    break
                j += 1
            toks.append(Token(QIDENT, sql[i:j + 1]))
            i = j + 1
            continue
        # number
        if c.isdigit() or (c == "." and i + 1 < n and sql[i + 1].isdigit()):
            j = i
            while j < n and (sql[j].isdigit() or sql[j] in ".eE" or
                             (sql[j] in "+-" and sql[j - 1] in "eE")):
                j += 1
            toks.append(Token(NUMBER, sql[i:j]))
            i = j
            continue
        # identifier / keyword
        if c.isalpha() or c == "_":
            j = i
            while j < n and (sql[j].isalnum() or sql[j] == "_"):
                j += 1
            toks.append(Token(IDENT, sql[i:j]))
            i = j
            continue
        # multi-char operators (:: before punct ':')
        matched = False
        for op in MULTI_OPS:
            if sql.startswith(op, i):
                toks.append(Token(OP, op))
                i += len(op)
                matched = True
                break
        if matched:
            continue
        if c in PUNCTS:
            toks.append(Token(PUNCT, c))
            i += 1
            continue
        if c in SINGLE_OPS:
            toks.append(Token(OP, c))
            i += 1
            continue
        # unknown char — pass through
        toks.append(Token(OP, c))
        i += 1
    return toks


def emit(tokens: list[Token]) -> str:
    return "".join(t.text for t in tokens)


def significant(tokens: list[Token], idx: int, direction: int = 1) -> int:
    """Index of next/prev non-whitespace token, or -1."""
    i = idx + direction
    while 0 <= i < len(tokens):
        if tokens[i].kind != WS:
            return i
        i += direction
    return -1


def split_on_semicolons(tokens: list[Token]) -> list[list[Token]]:
    """Split a token stream into statements on top-level semicolons."""
    stmts: list[list[Token]] = []
    cur: list[Token] = []
    depth = 0
    for t in tokens:
        if t.kind == PUNCT and t.text == "(":
            depth += 1
        elif t.kind == PUNCT and t.text == ")":
            depth -= 1
        if t.kind == PUNCT and t.text == ";" and depth == 0:
            if any(x.kind != WS for x in cur):
                stmts.append(cur)
            cur = []
        else:
            cur.append(t)
    if any(x.kind != WS for x in cur):
        stmts.append(cur)
    return stmts
