"""SQLite SQL -> Spark SQL: the engine's one SQLite dialect layer.

Every SQLite spelling that Spark SQL does not share is translated here,
as text, before a statement reaches Spark: CAST affinity, scalar
functions (iif, glob, quote, strftime and the datetime modifiers,
julianday/unixepoch, printf, the JSON1 family, ...), integer-literal
division, double-quoted identifiers, and the connection functions
(changes(), total_changes(), sqlite_version(), random()).
``to_spark_sql`` runs the whole chain; ``Engine.sql`` and ``Engine.df``
call it after parameter binding. Each replacement is a plain Spark SQL
expression, so nothing depends on a session-registered function.

All rewriters share one literal-aware scanner: a single-quoted string
literal ('' escapes a quote) is data and is never rewritten. Call sites
are found at a word boundary, their arguments are split at top level
and rewritten first.

Reference surface: sqlite.org/lang_corefunc.html and lang_datefunc.html
(the reference enables the full core-function set, pkg/sqlite3).
Unsupported spots are left untouched so the resolver error names the
original function.
"""

from __future__ import annotations

import json
import re


def quote_ident(name: str) -> str:
    """`name` as one backtick-quoted Spark identifier: every backtick in
    it is doubled, so no name can close the quoting."""
    return "`" + name.replace("`", "``") + "`"


# -- the literal-aware scanner ------------------------------------------------


def _literal_end(s: str, i: int) -> int:
    """Index just past the '...' literal opening at s[i] ('' is an
    escaped quote); len(s) if it is unterminated."""
    j = s.find("'", i + 1)
    while j != -1 and s.startswith("'", j + 1):
        j = s.find("'", j + 2)
    return len(s) if j == -1 else j + 1


_PAREN_RE = re.compile(r"[()']")


def _paren_end(s: str, k: int) -> int | None:
    """Index just past the ')' that closes the '(' at s[k], skipping
    literals; None if it is unbalanced."""
    depth, j = 1, k + 1
    while depth:
        m = _PAREN_RE.search(s, j)
        if m is None:
            return None
        j = m.end()
        if m.group() == "'":
            j = _literal_end(s, m.start())
        else:
            depth += 1 if m.group() == "(" else -1
    return j


def top_level_search(pattern: re.Pattern, s: str) -> re.Match | None:
    """The first match of `pattern` in s outside string literals and
    parentheses."""
    depth, i = 0, 0
    while True:
        m = _PAREN_RE.search(s, i)
        end = len(s) if m is None else m.start()
        if depth == 0 and (hit := pattern.search(s, i, end)):
            return hit
        if m is None:
            return None
        if m.group() == "'":
            i = _literal_end(s, m.start())
        else:
            depth += 1 if m.group() == "(" else -1
            i = m.end()


def _outside_literals(sql: str, fn) -> str:
    """Apply fn to every stretch of sql between string literals."""
    out, i = [], 0
    while i < len(sql):
        j = sql.find("'", i)
        if j == -1:
            j = len(sql)
        out.append(fn(sql[i:j]))
        i = _literal_end(sql, j) if j < len(sql) else j
        out.append(sql[j:i])
    return "".join(out)


def sub_outside_literals(pattern: re.Pattern, repl, sql: str) -> str:
    """pattern.sub(repl, sql) for the matches that start outside string
    literals (a match may span whole literals).  `pattern` has a
    literal's opening quote as its first alternative, as _calls_re
    does; that literal is kept as written."""
    out, i = [], 0
    while (m := pattern.search(sql, i)) is not None:
        out.append(sql[i:m.start()])
        i = _literal_end(sql, m.start()) if m.group() == "'" else m.end()
        out.append(sql[m.start():i] if m.group() == "'" else repl(m))
    out.append(sql[i:])
    return "".join(out)


def _calls_re(names) -> re.Pattern:
    """Matches a literal's opening quote, or a call to one of `names`
    (group 1, any case) that does not continue an identifier."""
    alts = "|".join(sorted(names, key=len, reverse=True))
    return re.compile(rf"'|(?<![\w.])({alts})\s*\(", re.IGNORECASE)


def _rewrite_calls(sql: str, calls: re.Pattern, xform) -> str:
    """Replace every call matched by `calls` with xform(name, inner),
    where inner is the argument text, rewritten first. A None from
    xform keeps the call."""
    out, i = [], 0
    while (m := calls.search(sql, i)) is not None:
        s = m.start()
        out.append(sql[i:s])
        if m.group(1) is None:
            i = _literal_end(sql, s)
            out.append(sql[s:i])
            continue
        k = m.end() - 1
        end = _paren_end(sql, k)
        if end is None:  # unbalanced: leave the rest as written
            i = s
            break
        i = end
        inner = _rewrite_calls(sql[k + 1:i - 1], calls, xform)
        repl = xform(m.group(1), inner)
        out.append(sql[s:k + 1] + inner + ")" if repl is None else repl)
    out.append(sql[i:])
    return "".join(out)


_ARGS_RE = re.compile(r"[(),']")


def _split_args(s: str) -> list[str] | None:
    """Split a call's argument text at top-level commas; None if the
    text is unbalanced."""
    args, depth, start, i = [], 0, 0, 0
    while (m := _ARGS_RE.search(s, i)) is not None:
        ch, i = m.group(), m.end()
        if ch == "'":
            i = _literal_end(s, m.start())
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return None
        elif depth == 0:
            args.append(s[start:m.start()].strip())
            start = i
    args.append(s[start:].strip())
    return args


def _literal(arg: str) -> str | None:
    """The Python string value of a SQL single-quoted literal, else None."""
    a = arg.strip()
    if len(a) >= 2 and a[0] == "'" and a[-1] == "'":
        return a[1:-1].replace("''", "'")
    return None


def _sq(s: str) -> str:
    return s.replace("'", "''")


# -- GLOB ----------------------------------------------------------------------


def _glob_set(body: str) -> str:
    """The members of a GLOB [...] set as a Java character-class body.
    As in SQLite's patternCompare, x-y is a range unless x is the
    leading ']', and a range's end cannot start another one."""
    out, k = [], 0
    while k < len(body):
        c = body[k]
        if body.startswith("-", k + 1) and k + 2 < len(body) and (k or c != "]"):
            if c <= body[k + 2]:
                out.append(f"{re.escape(c)}-{re.escape(body[k + 2])}")
            k += 3
        else:
            out.append(re.escape(c))
            k += 1
    return "".join(out)


def _glob_regex(pattern: str) -> str:
    """SQLite GLOB pattern -> Java regex over the whole value. `*` and
    `?` span newlines; a ']' right after '[' or '[^' is a member; an
    unterminated set matches nothing, as in SQLite."""
    out, i = [], 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch == "[":
            neg = pattern.startswith("^", i + 1)
            start = i + 1 + neg
            j = pattern.find("]", start + 1)
            if j == -1:
                out.append("(?!)")
                break
            members = _glob_set(pattern[start:j])
            if members:
                out.append(("[^" if neg else "[") + members + "]")
            else:  # only reversed ranges: an empty set
                out.append("." if neg else "(?!)")
            i = j
        else:
            out.append(re.escape(ch))
        i += 1
    return "(?s)^" + "".join(out) + r"\z"


# -- date and time -------------------------------------------------------------

# SQLite/C strftime directive -> Spark (java.time) pattern fragment.
STRFTIME_MAP = {
    "%Y": "yyyy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%M": "mm",
    "%S": "ss",
    "%j": "DDD",
    "%e": "d",
    "%A": "EEEE",
    "%a": "EEE",
    "%B": "MMMM",
    "%b": "MMM",
    "%p": "a",
    "%I": "hh",
    "%%": "%",
}


def strftime_format(fmt: str) -> str:
    """Translate a C-style strftime format to a Spark datetime pattern.
    Literal text is quoted so java.time doesn't interpret it."""
    out: list[str] = []
    lit: list[str] = []

    def flush():
        if lit:
            text = "".join(lit).replace("'", "''")
            # quote any literal run containing letters
            out.append(f"'{text}'" if any(c.isalpha() for c in text) else text)
            lit.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            directive = fmt[i : i + 2]
            mapped = STRFTIME_MAP.get(directive)
            if mapped is None:
                raise ValueError(f"unsupported strftime directive {directive!r}")
            flush()
            out.append(mapped)
            i += 2
        else:
            lit.append(fmt[i])
            i += 1
    flush()
    return "".join(out)


_TRUNC = {"start of day": "day", "start of month": "month",
          "start of year": "year"}
_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def _apply_modifier(expr: str, mod: str) -> str | None:
    """One SQLite date modifier applied to a timestamp expression, as
    SQL text: '+N days|hours|minutes|seconds|months|years', '-N ...',
    'start of day|month|year'."""
    m = mod.strip().lower()
    if m in _TRUNC:
        return f"date_trunc('{_TRUNC[m]}', {expr})"
    sign, body = 1, m
    if m.startswith(("+", "-")):
        sign = -1 if m[0] == "-" else 1
        body = m[1:].strip()
    num_s, _, unit = body.partition(" ")
    try:
        num = float(num_s)
    except ValueError:
        return None
    unit = unit.strip().rstrip("s")
    if unit in _SECONDS:
        delta = int(sign * num * _SECONDS[unit] * 1e6)
        return f"timestamp_micros(unix_micros({expr}) + {delta})"
    # interval arithmetic (not add_months) keeps TIMESTAMP and the
    # time of day, as SQLite does
    if unit == "month":
        return f"({expr} + INTERVAL {int(sign * num)} MONTH)"
    if unit == "year":
        return f"({expr} + INTERVAL {int(sign * num * 12)} MONTH)"
    return None


def _dt_chain(ts_arg: str, mods: list[str]) -> str | None:
    """TIMESTAMP expression for ts_arg with SQLite modifiers applied
    left to right; None if any modifier is unsupported."""
    expr = f"CAST({ts_arg} AS TIMESTAMP)"
    for a in mods:
        lit = _literal(a)
        if lit is None:
            return None
        expr2 = _apply_modifier(expr, lit)
        if expr2 is None:
            return None
        expr = expr2
    return expr


# Spark's typeof() is the static column type, so a NULL value is tested
# first: SQLite types the value.
_TYPEOF_CASE = (
    "CASE WHEN {a} IS NULL THEN 'null' "
    "WHEN typeof({a}) = 'string' THEN 'text' "
    "WHEN typeof({a}) IN ('int','bigint','smallint','tinyint','boolean')"
    " THEN 'integer' "
    "WHEN typeof({a}) IN ('double','float') OR typeof({a}) LIKE 'decimal%'"
    " THEN 'real' "
    "WHEN typeof({a}) = 'binary' THEN 'blob' "
    "ELSE typeof({a}) END"
)

# SQLite quote(): TEXT quoted with '' escapes, BLOB as X'..', a boolean
# as the integer SQLite would store, other numbers as their text.
# typeof() is static in Spark, so the CASE folds to one branch.
_QUOTE_CASE = (
    "CASE WHEN {a} IS NULL THEN 'NULL' "
    "WHEN typeof({a}) = 'string' "
    "THEN concat('''', replace({a}, '''', ''''''), '''') "
    "WHEN typeof({a}) = 'binary' THEN concat('X''', hex({a}), '''') "
    "WHEN typeof({a}) = 'boolean' "
    "THEN if(CAST(CAST({a} AS STRING) AS BOOLEAN), '1', '0') "
    "ELSE CAST({a} AS STRING) END"
)


_PRINTF_DIR = re.compile(r"%[-+ #0]*\d*(?:\.\d+)?([diouxXeEfgGcs])")


def _printf_call(args: list[str]) -> str:
    """printf with SQLite's numeric laxity: when the format is a
    literal, cast each argument to the type its directive expects
    (Spark's printf raises on e.g. %f over a DECIMAL literal)."""
    fmt = _literal(args[0])
    if fmt is None or len(args) == 1:
        return f"printf({', '.join(args)})"
    kinds = _PRINTF_DIR.findall(fmt)
    cast_args = [args[0]]
    for i, a in enumerate(args[1:]):
        kind = kinds[i] if i < len(kinds) else "s"
        if kind in "eEfgG":
            cast_args.append(f"CAST({a} AS DOUBLE)")
        elif kind in "diouxX":
            cast_args.append(f"CAST({a} AS BIGINT)")
        else:
            cast_args.append(f"CAST({a} AS STRING)")
    return f"printf({', '.join(cast_args)})"


_JSON_PATH_KEY_RE = re.compile(r"^\$\.([A-Za-z_][A-Za-z0-9_]*)$")

# json_* / jsonb_* modify family accepted at a literal TOP-LEVEL path
# ('$.key'); nested paths are left unrewritten so the resolver error
# names the original function instead of silently mis-editing.
_JSON_MODIFY = {
    "json_set", "jsonb_set",
    "json_insert", "jsonb_insert",
    "json_replace", "jsonb_replace",
}


def _json_path_key(arg: str) -> str | None:
    p = _literal(arg)
    if p is None:
        return None
    m = _JSON_PATH_KEY_RE.match(p)
    return m.group(1).replace("'", "''") if m else None


_VMAP = "'map<string,variant>'"
_EMPTY_VMAP = f"from_json('{{}}', {_VMAP})"

# json_patch recurses into nested objects (RFC 7386); the generated
# merge expression is unrolled to this depth, and a patch value that
# is STILL an object past it raises loudly instead of silently
# wholesale-replacing (same bounded-recursion policy as
# json_tree_walk's max_depth)
_PATCH_DEPTH = 3


def _vmap(x: str) -> str:
    """Parse a TEXT JSON document into map<string,variant> — NULL for
    a non-object document (array/scalar), which the callers use as
    the SQLite 'path does not match, return doc unchanged' guard."""
    return f"from_json({x}, {_VMAP})"


def _let(bind: str, var: str, body: str) -> str:
    """Evaluate `bind` ONCE per row and make it available to `body`
    as lambda variable `var` — a let-binding built from a 1-element
    transform. Why: these rewrites repeat the parsed-document
    subexpression (null guard + contains guard + the edit itself),
    and the higher-order map functions force the interpreted
    projection path, where Spark does NO common-subexpression
    elimination — each textual repeat re-parses the document.
    Measured at x100 (640M-row events): jsonb_set fell 11.4 s ->
    ~4 s from exactly this. Lambda scoping nests (inner lambdas see
    outer vars), so merge levels can reference the bound document."""
    return f"element_at(transform(array({bind}), {var} -> {body}), 1)"


def _canon_render(m: str) -> str:
    """Render a map<string,variant> to canonical TEXT JSON in ONE
    pass: sort the top-level entries by key (variant values already
    carry sorted nested keys out of from_json), then to_json. This
    replaces the old to_json -> parse_json -> to_json canonicalizing
    round-trip, which cost an extra full-document parse AND render
    per modify call — the per-row money at 100 TB (round-12 bench:
    jsonb chain 45x DuckDB at x100 from exactly this)."""
    return (
        f"to_json(map_from_entries(array_sort(map_entries({m}), "
        f"(l, r) -> CASE WHEN l.key < r.key THEN -1 "
        f"WHEN l.key > r.key THEN 1 ELSE 0 END)))"
    )


def _merge_patch(a: str, b: str, depth: int) -> str:
    """RFC-7386 MergePatch of two map<string,variant> expressions ->
    merged map expression. `a` may be NULL (non-object doc: treated
    as {}, matching SQLite json_patch('[1,2]','{...}') -> '{...}');
    the caller guards `b` non-null. Recursive object-vs-object merges
    are unrolled `depth` levels; past that a nested-object patch
    value raises rather than silently diverging from SQLite.

    Each unrolled level needs its own lambda variable (e3, e2, ...)
    — the inner transform would otherwise shadow the outer binding
    its sub-expressions still reference."""
    e = f"e{depth}"
    aa = f"coalesce({a}, {_EMPTY_VMAP})"
    keep_a = f"map_filter({aa}, (k, v) -> NOT map_contains_key({b}, k))"
    if depth <= 0:
        val = (
            f"CASE WHEN startswith(to_json({e}.value), '{{') "
            f"THEN raise_error('json_patch: object nesting deeper "
            f"than {_PATCH_DEPTH} levels is unsupported') "
            f"ELSE {e}.value END"
        )
    else:
        sub_a = f"from_json(to_json(element_at({aa}, {e}.key)), {_VMAP})"
        sub_b = f"from_json(to_json({e}.value), {_VMAP})"
        merged = _merge_patch(sub_a, sub_b, depth - 1)
        # parse_json re-canonicalizes the nested level; the top-level
        # _canon_render pass only sorts depth-0 keys
        val = (
            f"CASE WHEN startswith(to_json({e}.value), '{{') "
            f"THEN parse_json(to_json({merged})) "
            f"ELSE {e}.value END"
        )
    from_b = (
        f"map_from_entries(transform(filter(map_entries({b}), "
        f"{e} -> NOT is_variant_null({e}.value)), "
        f"{e} -> struct({e}.key, {val})))"
    )
    return f"map_concat({keep_a}, {from_b})"


def _json_xform(n: str, args: list[str], j: str) -> str | None:
    """SQLite JSON1 family -> Spark SQL (SURVEY §2.B; the reference
    enables JSON1 wholesale, pkg/sqlite3/sqlite3.go:22, which since
    SQLite 3.45 includes the jsonb_* binary-storage variants —
    present in the reference's 3.49.1).

    jsonb is a STORAGE optimization, not a semantics change
    (sqlite.org/json1.html#jsonb): every jsonb_* accepts the same
    arguments and represents the same document as its json_* twin, so
    this engine accepts both spellings and returns TEXT JSON for
    both — the documented deviation (columnar parquet + Spark's
    variant kernel already fill jsonb's decode-saving role; a binary
    wire format would buy nothing here). Second deviation: outputs
    canonicalize key order (sorted, matching parse_json) where SQLite
    preserves insertion order. Third: json_patch merges nested
    objects recursively to _PATCH_DEPTH levels and raises loudly
    past that (SQLite recurses arbitrarily). Values keep their JSON
    types end-to-end: documents round-trip through Spark's
    map<string,variant>, never through a stringly-typed map; each
    modify call costs ONE document parse and ONE render
    (_canon_render sorts entries in place of the old
    parse_json(to_json(...)) round-trip)."""
    if n in ("json", "jsonb") and len(args) == 1:
        return f"to_json(parse_json({args[0]}))"
    if n in ("json_extract", "jsonb_extract") and len(args) == 2:
        return f"get_json_object({args[0]}, {args[1]})"
    if n in ("json_array", "jsonb_array"):
        return f"to_json(array({j}))" if args else "'[]'"
    if n in ("json_object", "jsonb_object") and len(args) % 2 == 0:
        return f"to_json(named_struct({j}))" if args else "'{}'"
    if n in ("json_group_array", "jsonb_group_array") and len(args) == 1:
        return f"to_json(collect_list({args[0]}))"
    if n in ("json_group_object", "jsonb_group_object") and len(args) == 2:
        return f"to_json(map_from_entries(collect_list(struct({j}))))"
    if n == "json_valid" and len(args) == 1:
        return f"(try_parse_json({args[0]}) IS NOT NULL)"
    if n in ("json_array_length", "jsonb_array_length") and len(args) == 2:
        return f"json_array_length(get_json_object({args[0]}, {args[1]}))"
    if n == "jsonb_array_length" and len(args) == 1:
        return f"json_array_length({args[0]})"
    if n in _JSON_MODIFY and len(args) == 3:
        key = _json_path_key(args[1])
        if key is None:
            return None
        x, val = args[0], args[2]
        # lift an arbitrary SQL value to variant: a direct cast, no
        # render/re-parse round-trip (strings become JSON strings,
        # numerics keep their type — same lift as the old
        # parse_json(to_json(array(v))) path, minus two conversions)
        vv = f"cast({val} as variant)"
        set_expr = _canon_render(
            f"map_concat(map_filter(m0, (k, v) -> k != '{key}'), "
            f"map('{key}', {vv}))"
        )
        # non-object document (array/scalar): a '$.key' path matches
        # nothing — SQLite returns the document unchanged (and a
        # malformed document still raises, via parse_json)
        nonobj = f"to_json(parse_json({x}))"
        if n.endswith("_set"):
            body = f"CASE WHEN m0 IS NULL THEN {nonobj} ELSE {set_expr} END"
        else:
            hit, miss = (
                (set_expr, _canon_render("m0"))
                if n.endswith("_replace")
                else (_canon_render("m0"), set_expr)
            )
            body = (
                f"CASE WHEN m0 IS NULL THEN {nonobj} "
                f"WHEN map_contains_key(m0, '{key}') THEN {hit} "
                f"ELSE {miss} END"
            )
        return f"({_let(_vmap(x), 'm0', body)})"
    if n in ("json_remove", "jsonb_remove") and len(args) == 2:
        key = _json_path_key(args[1])
        if key is None:
            return None
        removed = _canon_render(f"map_filter(m0, (k, v) -> k != '{key}')")
        body = (
            f"CASE WHEN m0 IS NULL THEN to_json(parse_json({args[0]})) "
            f"ELSE {removed} END"
        )
        return f"({_let(_vmap(args[0]), 'm0', body)})"
    if n in ("json_patch", "jsonb_patch") and len(args) == 2:
        # RFC 7386 MergePatch, recursive to _PATCH_DEPTH object levels
        # (loud raise past that): patch nulls delete, objects merge
        # recursively, everything else overwrites/inserts; a
        # non-object patch replaces the document wholesale and a
        # non-object document is treated as {} — all per SQLite.
        fast = _flat_literal_patch(args[0], args[1])
        if fast is not None:
            return fast
        # general path: both documents let-bound (one parse each; a
        # literal patch constant-folds away entirely)
        merged = _canon_render(_merge_patch("a0", "b0", _PATCH_DEPTH))
        body = (
            f"CASE WHEN b0 IS NULL THEN to_json(parse_json({args[1]})) "
            f"ELSE {merged} END"
        )
        inner = _let(_vmap(args[0]), "a0", _let(_vmap(args[1]), "b0", body))
        return (
            f"(CASE WHEN {args[0]} IS NULL OR {args[1]} IS NULL "
            f"THEN CAST(NULL AS STRING) "
            f"ELSE {inner} END)"
        )
    return None


def _flat_literal_patch(x: str, parg: str) -> str | None:
    """Fast path for json_patch(doc, '<flat literal object>') — the
    overwhelmingly common CDC/upsert shape: the patch is folded at
    REWRITE time (keys to delete, values to set, and the
    non-object-doc result are all Python-side constants), so the
    per-row plan is one parse + filter + concat + sorted render —
    the same cost as json_remove, ~2x cheaper at x100 than the
    general recursive-merge expression. Returns None (general path)
    for non-literal patches or patches with nested-object values."""
    lit = _literal(parg)
    if lit is None:
        return None
    try:
        patch = json.loads(lit)
    except ValueError:
        return None
    if not isinstance(patch, dict):
        return None
    if any(isinstance(v, dict) for v in patch.values()):
        return None
    keys_sql = ", ".join(f"'{_sq(k)}'" for k in patch)
    updates = {k: v for k, v in patch.items() if v is not None}
    if updates:
        pairs = ", ".join(
            f"'{_sq(k)}', parse_json('{_sq(json.dumps(v))}')"
            for k, v in updates.items()
        )
        merged_map = (
            f"map_concat(map_filter(m0, (k, v) -> "
            f"NOT array_contains(array({keys_sql}), k)), map({pairs}))"
        )
    else:
        merged_map = (
            f"map_filter(m0, (k, v) -> "
            f"NOT array_contains(array({keys_sql}), k))"
        )
    # non-object doc: mergepatch({}, patch) = patch minus nulls —
    # a Python-side constant
    nonobj = json.dumps(
        dict(sorted(updates.items())), separators=(",", ":")
    )
    body = (
        f"CASE WHEN m0 IS NULL THEN '{_sq(nonobj)}' "
        f"ELSE {_canon_render(merged_map)} END"
    )
    return (
        f"(CASE WHEN {x} IS NULL THEN CAST(NULL AS STRING) "
        f"ELSE {_let(_vmap(x), 'm0', body)} END)"
    )


def _xform(name: str, args: list[str]) -> str | None:
    """Replacement text for one call, or None to leave it unchanged."""
    n = name.lower()
    # _split_args('') yields [''] — normalize so zero-arg forms
    # (json_array() -> '[]', json_object() -> '{}') actually fire
    if args == [""]:
        args = []
    j = ", ".join(args)
    if n.startswith(("json", "jsonb")):
        return _json_xform(n, args, j)
    if n == "iif" and len(args) == 3:
        # SQLite's condition is any value, true when non-zero
        return f"if(CAST({args[0]} AS BOOLEAN), {args[1]}, {args[2]})"
    if n in ("likely", "unlikely") and len(args) == 1:
        return f"({j})"  # planner hints: the value itself
    if n == "likelihood" and len(args) == 2:
        return f"({args[0]})"
    if n in ("format", "printf") and len(args) >= 1:
        return _printf_call(args)
    if n in ("ltrim", "rtrim") and len(args) == 2:
        # SQLite: ltrim(x, chars); Spark's two-arg form is
        # (trimStr, srcStr) — swap
        return f"{n}({args[1]}, {args[0]})"
    if n == "trim" and len(args) == 2:
        return f"btrim({j})"  # btrim takes (str, trimStr) like SQLite
    if n in ("max", "min") and len(args) >= 2:
        return f"{'greatest' if n == 'max' else 'least'}({j})"
    if n == "char" and len(args) >= 2:
        return "concat(" + ", ".join(f"char({a})" for a in args) + ")"
    if n == "like" and len(args) in (2, 3):
        esc = f" ESCAPE {args[2]}" if len(args) == 3 else ""
        return f"(({args[1]}) LIKE ({args[0]}){esc})"
    if n == "quote" and len(args) == 1:
        return _QUOTE_CASE.format(a=j)
    if n == "unicode" and len(args) == 1:
        return f"ascii({j})"
    if n == "zeroblob" and len(args) == 1:
        return f"unhex(repeat('00', {args[0]}))"
    if n == "typeof" and len(args) == 1:
        return _TYPEOF_CASE.format(a=args[0])
    if n == "glob" and len(args) == 2:
        pat = _literal(args[0])
        if pat is None:
            return None
        rx = _glob_regex(pat).replace("\\", "\\\\").replace("'", "''")
        return f"(({args[1]}) RLIKE '{rx}')"
    if n in _DATE_FUNCTIONS:
        return _date_xform(n, args)
    return None


_DATE_FUNCTIONS = {
    "datetime": "yyyy-MM-dd HH:mm:ss", "date": "yyyy-MM-dd",
    "time": "HH:mm:ss", "strftime": None, "julianday": None,
    "unixepoch": None,
}


def _date_xform(n: str, args: list[str]) -> str | None:
    """SQLite date and time functions: the first argument (after
    strftime's format) is the time value, the rest are modifiers."""
    fmt = None
    if n == "strftime":
        fmt = _literal(args[0]) if args else None
        if fmt is None:
            return None
        args = args[1:]
    if not args or (n == "date" and len(args) == 1):
        return None  # date(x) alone is Spark's own cast builtin
    chain = _dt_chain(args[0], args[1:])
    if chain is None:
        return None
    if n == "julianday":
        return f"(unix_micros({chain}) / 8.64E10 + 2440587.5)"
    if n == "unixepoch":
        return f"unix_timestamp({chain})"
    if fmt == "%s":
        return f"CAST(unix_timestamp({chain}) AS STRING)"
    jfmt = _DATE_FUNCTIONS[n]
    if fmt is not None:
        try:
            jfmt = strftime_format(fmt)
        except ValueError:
            return None
    return f"date_format({chain}, '{_sq(jfmt)}')"


_NAMES = {
    "iif", "likely", "unlikely", "likelihood", "format", "printf", "max",
    "min", "char", "like", "quote", "unicode", "zeroblob", "typeof",
    "glob", "ltrim", "rtrim", "trim", *_DATE_FUNCTIONS,
    # JSON1 family, both spellings (jsonb_* = SQLite >= 3.45 binary
    # storage variants; accepted, TEXT JSON returned)
    "json", "jsonb", "json_extract", "jsonb_extract",
    "json_array", "jsonb_array", "json_object", "jsonb_object",
    "json_group_array", "jsonb_group_array",
    "json_group_object", "jsonb_group_object",
    "json_valid", "json_array_length", "jsonb_array_length",
    "json_set", "jsonb_set", "json_insert", "jsonb_insert",
    "json_replace", "jsonb_replace", "json_remove", "jsonb_remove",
    "json_patch", "jsonb_patch",
}


def _function_xform(name: str, inner: str) -> str | None:
    args = _split_args(inner)
    return _xform(name, args) if args is not None else None


_FUNCTION_CALLS = _calls_re(_NAMES)


def rewrite_sqlite_functions(sql: str) -> str:
    """Rewrite SQLite scalar-function call sites to Spark SQL text."""
    return _rewrite_calls(sql, _FUNCTION_CALLS, _function_xform)


# -- SQLite integer division ------------------------------------------------
#
# SQLite `/` performs INTEGER division when both operands carry INTEGER
# affinity: 7/2 = 3, -9/2 = -4 (truncation toward zero), 7/0 = NULL.
# Spark `/` always returns DOUBLE. Operand storage classes are not
# recoverable from SQL text in general, but the ubiquitous case a ported
# query hits — integer LITERALS on both sides — is: rewrite
# `<int-literal> / <int-literal> [/ <int-literal> ...]` chains to
# Spark's `DIV`, which shares SQLite's truncation-toward-zero and
# NULL-on-zero (ANSI mode off) semantics and returns BIGINT, so 7/2
# prints 3 and 8/2/2 prints 2, not 3.5/2.0.
#
# The rewrite fires ONLY when the leading literal is genuinely the LEFT
# operand of the division at runtime. Because Spark parses `*`, `/`, `%`
# and `DIV` left-associatively at equal precedence, rewriting `x / 2/3`
# to `x / 2 DIV 3` would make the DIV's left operand the whole `x / 2`
# expression and silently truncate a REAL column. So: if the nearest
# non-whitespace text before the literal ends with another multiplicative
# operator (`*` `/` `%`), an expression tail (`)` quote-close, a
# parameter marker) or any word that is not a known SQL keyword, the
# chain is left as true division. Column-typed operands always remain
# true division (documented deviation; `DIV` is available explicitly).

_INT_DIV_CHAIN_RE = re.compile(
    # multiplicative chain of int literals (*, /, %): not part of an
    # identifier or float on either flank. Literal-only chains are safe
    # to fold left-to-right with DIV because every intermediate stays
    # integral in SQLite (5*1/2 = 2, 8/2*3/4 = 3).
    r"(?<![\w.$])[0-9]+(?:\s*[*/%]\s*[0-9]+)+(?![\w.])"
)

# Words that can legitimately precede a literal expression in SQL text.
# Anything alphanumeric NOT in this set is an identifier / named
# parameter tail, i.e. the literal is a RIGHT operand or invalid SQL —
# either way, don't rewrite.
_KEYWORDS_BEFORE_EXPR = frozenset(
    """select where when then else case and or not on by having limit
    offset set values returning in like glob is between all distinct
    union except intersect escape collate as if elseif do while return
    null true false""".split()
)


def _chain_is_left_operand(seg: str, start: int) -> bool:
    """True when the literal at seg[start] is the left operand of its
    division chain (not the right operand of a preceding same-precedence
    operator or an identifier/parameter)."""
    k = start - 1
    while k >= 0 and seg[k] in " \t\r\n":
        k -= 1
    if k < 0:
        return True
    ch = seg[k]
    if ch in "*/%)?'`\"":
        # preceding multiplicative operator / expression tail / param
        return False
    if ch.isalnum() or ch == "_":
        # walk back the word: keyword => expression starts here (safe);
        # anything else (identifier, named param, digit run) => not the
        # left operand — leave as true division.
        e = k + 1
        while k >= 0 and (seg[k].isalnum() or seg[k] == "_"):
            k -= 1
        word = seg[k + 1:e].lower()
        if word == "div" and k >= 0 and seg[k] not in ":@$":
            # our own prior chain rewrite: left operand is already
            # BIGINT, folding further DIVs is exact
            return True
        if k >= 0 and seg[k] in ":@$":
            return False  # named parameter tail
        return word in _KEYWORDS_BEFORE_EXPR
    return True  # '(' ',' '=' '<' '>' '+' '-' '|' '&' '~' ';' etc.


def _fold_division(seg: str) -> str:
    out, pos = [], 0
    for m in _INT_DIV_CHAIN_RE.finditer(seg):
        if "/" not in m.group(0):
            continue  # *-/% chain with no division: nothing to fold
        if not _chain_is_left_operand(seg, m.start()):
            continue
        out.append(seg[pos:m.start()])
        out.append(re.sub(r"\s*/\s*", " DIV ", m.group(0)))
        pos = m.end()
    out.append(seg[pos:])
    return "".join(out)


def rewrite_integer_literal_division(sql: str) -> str:
    """Rewrite int-literal division chains to DIV, skipping string
    literals (a '/' inside quotes is data, not an operator) and any
    chain whose leading literal is not the true left operand."""
    return _outside_literals(sql, _fold_division)


# -- double-quoted identifiers ---------------------------------------------
#
# The reference compiles SQLite with -DSQLITE_DQS=0
# (pkg/sqlite3/sqlite3.go:4): double quotes are STRICTLY identifier
# quoting, never string literals. Spark's default parser reads "x" as
# the string 'x', which silently breaks every ported statement that
# quotes a column ("SELECT \"doc_id\" FROM t" would project a constant).
# Rewrite "ident" (with "" escaping, per SQL) to Spark backtick quoting
# outside single-quoted strings. ANSI double-quote mode is not an
# option here: spark.sql.ansi.doubleQuotedIdentifiers requires ANSI
# mode, which the engine keeps off for SQLite-compatible casts.

_QUOTES_RE = re.compile("['\"]")


def rewrite_double_quoted_identifiers(sql: str) -> str:
    out, i = [], 0
    while (m := _QUOTES_RE.search(sql, i)) is not None:
        s = m.start()
        out.append(sql[i:s])
        if m.group() == "'":
            i = _literal_end(sql, s)
            out.append(sql[s:i])
            continue
        j = sql.find('"', s + 1)  # the closing quote; "" is an escape
        while j != -1 and sql.startswith('"', j + 1):
            j = sql.find('"', j + 2)
        end = len(sql) if j == -1 else j
        name = sql[s + 1:end].replace('""', '"')
        out.append(quote_ident(name))
        i = end + 1
    out.append(sql[i:])
    return "".join(out)


# -- CAST affinity ----------------------------------------------------------
#
# SQLite CAST applies *prefix parsing*: CAST('42abc' AS INTEGER) = 42,
# CAST('3.7xyz' AS REAL) = 3.7, CAST('junk' AS INTEGER) = 0 (see
# sqlite.org/lang_expr.html#castexpr; the reference binds through
# pkg/sqlite3/statement.go:103-159 over dynamically-typed storage).
# The rewrite tries, in order: Spark's native cast (covers numeric
# operands and clean strings, including int64 that a double round-trip
# would corrupt, and double->bigint clamping at +/-2^63 like SQLite);
# a double parse (clean real strings like '3.9' -> 3); the longest
# numeric prefix; then SQLite's 0 default. NUMERIC stays DOUBLE-typed
# (Spark columns are statically typed — documented deviation: SQLite
# would narrow 42.0 back to integer 42). TEXT and BLOB only rename the
# type (INTEGER maps to BIGINT: SQLite's INTEGER storage class is
# 64-bit).
# NB: these are SQL string literals — Spark's parser unescapes '\\s'
# to the regex \s (escapedStringLiterals is off by default).
_INT_PREFIX_RX = r"^\\s*([+-]?[0-9]+)"
_REAL_PREFIX_RX = (
    r"^\\s*[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?"
)
_SQLITE_CAST_TYPES = {"TEXT": "STRING", "BLOB": "BINARY"}
_CAST_TYPE_RE = re.compile(
    r"(?is)(\bAS\s+)(TEXT|REAL|BLOB|NUMERIC|INTEGER)(\s*)$"
)


def _int_affinity(x: str) -> str:
    # Numeric operands vs text operands need different rules (SQLite
    # dispatches on the runtime storage class; Spark types are static):
    # a REAL value truncates toward zero (1.23e7 -> 12300000, clamping
    # at +/-2^63), but TEXT parses only the INTEGER prefix — exponents
    # are junk ('1e3' -> 1). The double round-trip guard separates the
    # two at runtime: a numeric operand's string form IS its canonical
    # double rendering, so equality selects the numeric path; any other
    # text falls to prefix parsing. (A string that happens to equal a
    # canonical exponent rendering like '1.0E20' takes the numeric path
    # — the one residue of static typing; documented in COVERAGE.md.)
    s = f"CAST({x} AS STRING)"
    d = f"TRY_CAST({x} AS DOUBLE)"
    return (
        f"CASE WHEN {d} IS NOT NULL AND CAST({d} AS STRING) = {s} "
        f"THEN CAST({d} AS BIGINT) "
        f"ELSE COALESCE("
        f"TRY_CAST({x} AS BIGINT), "
        f"TRY_CAST(regexp_extract({s}, '{_INT_PREFIX_RX}', 1) AS BIGINT), "
        f"CAST(TRY_CAST(regexp_extract({s}, '{_REAL_PREFIX_RX}', 0) "
        f"AS DOUBLE) AS BIGINT), "
        f"CAST(0 AS BIGINT)) END"
    )


def _real_affinity(x: str) -> str:
    return (
        f"COALESCE(TRY_CAST({x} AS DOUBLE), "
        f"TRY_CAST(regexp_extract(CAST({x} AS STRING), "
        f"'{_REAL_PREFIX_RX}', 0) AS DOUBLE), CAST(0.0 AS DOUBLE))"
    )


def _cast_xform(word: str, inner: str) -> str | None:
    tm = _CAST_TYPE_RE.search(inner)
    if tm is None:
        return None
    ty = tm.group(2).upper()
    operand = inner[: tm.start()].rstrip()
    if ty == "INTEGER":
        return _int_affinity(operand)
    if ty in ("REAL", "NUMERIC"):
        return _real_affinity(operand)
    return (f"{word}({inner[: tm.start()]}{tm.group(1)}"
            f"{_SQLITE_CAST_TYPES[ty]}{tm.group(3)})")


_CAST_CALLS = _calls_re(["cast"])


def rewrite_sqlite_casts(sql: str) -> str:
    """Map SQLite CAST semantics onto Spark: type-name translation for
    TEXT/BLOB, full prefix-parsing affinity for INTEGER/REAL/NUMERIC.
    Scoped to CAST call sites, so a column alias that happens to be
    named `text` is never touched."""
    return _rewrite_calls(sql, _CAST_CALLS, _cast_xform)


# -- connection functions ---------------------------------------------------

SQLITE_VERSION = "3.49.1"  # the reference's embedded SQLite
_CONNECTION_CALLS = _calls_re(
    ["changes", "total_changes", "sqlite_version", "random"]
)


def rewrite_connection_functions(
    sql: str, changes: int, total_changes: int
) -> str:
    """Connection-scope SQLite functions: changes()/total_changes()
    become the caller's DML counters (the reference captures
    sqlite3_changes the same way, resolver.go:127-130);
    sqlite_version() reports the emulated dialect version; random()
    is a full-range signed 64-bit value (Spark's rand() is [0,1))."""
    values = {
        "changes": str(changes),
        "total_changes": str(total_changes),
        "sqlite_version": f"'{SQLITE_VERSION}'",
        "random": "CAST((rand() - 0.5) * 1.844674407370955E19 AS BIGINT)",
    }
    return _rewrite_calls(
        sql, _CONNECTION_CALLS,
        lambda name, inner: None if inner.strip() else values[name.lower()],
    )


def to_spark_sql(sql: str, changes: int = 0, total_changes: int = 0) -> str:
    """The whole SQLite -> Spark SQL translation of one bound statement:
    casts, functions, integer division, double-quoted identifiers, then
    the connection functions with the given DML counters."""
    sql = rewrite_sqlite_functions(rewrite_sqlite_casts(sql))
    sql = rewrite_double_quoted_identifiers(
        rewrite_integer_literal_division(sql)
    )
    return rewrite_connection_functions(sql, changes, total_changes)
