"""Lua 5.1-subset compiler for the mini-Redis server's EVAL.

Neither ``redis`` + a server, nor ``fakeredis``, nor ``lupa`` is
installable here, so ``MiniRedisServer`` runs scripts compiled by this
module, for the subset Redis scripts use: local assignment,
if/then/return, numeric for, ``and``/``or``, ``tonumber``, ``#``,
arithmetic/comparison, string/number literals, ``--`` comments,
``redis.call`` and ``cjson.decode`` (of a JSON array of strings only).
``compile_script`` emits, in one pass, Python source for the whole
script (no syntax tree, no closure per node) and compiles it; the
server does so once per SHA. The source is safe by construction: each
Lua local is an identifier unique to its declaration (``L<n>_<name>``),
so scoping is settled at compile time; a literal enters only as the
``repr()`` of its value; the code has no builtins, and its globals are
the helpers it calls. ``redis.call`` runs the server's own dispatch,
so a command behaves the same inside a script as over the wire.

Redis-Lua rules kept: numbers are doubles (Lua 5.1); values of
different types are never equal; only ``nil`` and ``false`` are falsy;
only an integral number in ``1..#t`` indexes an array element; reading
an undefined global is an error; a number returned from the script is
truncated to an integer reply. Anything outside the subset raises a
``SyntaxError`` naming ``lua-sim`` instead of guessing.
"""

from __future__ import annotations

import json
import operator
import re

__all__ = ["compile_script"]

# Whitespace and ``--`` comments are skipped possessively, so a comment
# ending the script is never re-read as ``-`` operators.
_TOKEN = re.compile(
    r"(?:\s+|--[^\n]*)*+(?:(?P<num>\d+\.?\d*)|(?P<name>[A-Za-z_][A-Za-z0-9_]*)"
    r"|(?P<str>'(?:[^'\\\n]|\\.)*')"
    r"|(?P<op><=|>=|==|~=|[#=<>+\-*(),.\[\]])|(?P<eof>\Z))"
)
# all of Lua 5.1's reserved words, so one outside the subset (``else``,
# ``while``, ``true``...) fails to compile instead of reading as a variable
_KEYWORDS = set("and break do else elseif end false for function if in local nil not"
                " or repeat return then true until while".split())
_ESCAPES = dict(zip("ntrabfv\\'\"", "\n\t\r\a\b\f\v\\'\""))
_ESCAPES.update((f"{c:0{w}d}", chr(c)) for c in range(128) for w in (1, 2, 3))  # \ddd, ASCII only
_GLOBALS = ("KEYS", "ARGV", "tonumber", "redis", "cjson")
_ORDER = {"<": operator.lt, "<=": operator.le, ">": operator.gt, ">=": operator.ge}


def _tokenize(src: str) -> list[tuple[str, str]]:
    toks, i = [], 0
    while True:
        m = _TOKEN.match(src, i)
        if not m:
            raise SyntaxError(f"lua-sim: cannot tokenize at {src[i:i+20].strip()!r}")
        kind, text, i = m.lastgroup, m.group(m.lastgroup), m.end()
        if kind == "eof":
            return toks
        if kind == "name" and text in _KEYWORDS:
            kind = "kw"
        toks.append((kind, text[1:-1] if kind == "str" else text))


# The helpers emitted code calls; each raises a ``lua-sim`` error where Lua raises one.
def _undef(name):
    raise NameError(f"lua-sim: undefined {name}")


def _eq(a, b):
    # Lua: values of different types are never equal; a table equals only itself
    return type(a) is type(b) and (a == b if type(a) in (float, str) else a is b)


def _compare(a, b, op):
    if type(a) is type(b) and type(a) in (float, str):
        return _ORDER[op](a, b)
    raise RuntimeError(f"lua-sim: attempt to compare {type(a).__name__} with {type(b).__name__}")


def _num(v):
    # Lua coerces a numeric string operand of arithmetic to a number
    if type(v) is not float and type(v := _tonumber(v)) is not float:
        raise RuntimeError("lua-sim: attempt to perform arithmetic on a non-number")
    return v


def _len(v):
    if type(v) not in (str, list):
        raise RuntimeError(f"lua-sim: attempt to get length of a {type(v).__name__} value")
    return float(len(v.encode() if type(v) is str else v))  # a string's length is in bytes


def _ix(t, k):
    if type(t) is list:  # a Lua array: only an integral number in 1..#t reads an element
        return t[int(k) - 1] if type(k) is float and k.is_integer() and 1 <= k <= len(t) else None
    if type(t) is dict:  # a library table (``redis``, ``cjson``)
        return t.get(k) if type(k) is str else None
    raise RuntimeError(f"lua-sim: attempt to index a {type(t).__name__} value")


def _range(i, stop, step):
    i, stop, step = _num(i), _num(stop), _num(step)
    while (step > 0 and i <= stop) or (step < 0 and i >= stop):
        yield i
        i += step


def _tonumber(v):
    try:
        return float(v) if type(v) in (float, str) else None  # false / nil / table → nil
    except ValueError:
        return None


def _decode(s):
    """``cjson.decode``, for a JSON array of strings only (the apply script's payload)."""
    try:
        v = json.loads(s)
        if type(v) is list and set(map(type, v)) <= {str}:
            "".join(v).encode()  # an escaped lone surrogate is not text
            return v
    except (TypeError, ValueError):
        pass
    raise RuntimeError("lua-sim: cjson.decode takes a JSON array of strings only")


_HELPERS = {f.__name__: f for f in (_undef, _eq, _compare, _num, _len, _ix, _range)}
_CJSON = {"decode": _decode}


class _Compiler:
    """Recursive descent over the tokens, emitting Python as it goes: a
    statement appends lines to ``self.out``; an expression compiles to
    ``(source, is_number)``, and arithmetic on a number needs no helper."""

    def __init__(self, toks):
        self.toks, self.i, self.n = toks, 0, 0
        self.out = ["def script(" + ", ".join("G_" + g for g in _GLOBALS) + "):"]
        self.scopes: list[dict[str, tuple[str, bool]]] = []  # local → (ident, is_number)
        self.used: set[str] = set()  # helpers the emitted code calls

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind, val=None):
        t = self.next()
        if t[0] != kind or (val is not None and t[1] != val):
            raise SyntaxError(f"lua-sim: expected {kind} {val}, got {t}")
        return t[1]

    def fresh(self, prefix):
        self.n += 1
        return f"{prefix}{self.n}"

    def helper(self, name, *args):
        self.used.add(name)
        return f"{name}({', '.join(args)})"

    def emit(self, line):
        self.out.append("    " * len(self.scopes) + line)

    def block(self, stop=("end",), scope=None):
        """A block, in a new scope (``scope`` holds a loop's variable)."""
        self.scopes.append(scope or {})
        start, stops = len(self.out), [("eof", "")] + [("kw", s) for s in stop]
        while self.peek() not in stops:
            self.stat()
        if len(self.out) == start:
            self.emit("pass")
        self.scopes.pop()

    def stat(self):
        k, v = self.next()
        if (k, v) == ("kw", "local"):
            name = self.expect("name")
            self.expect("op", "=")
            src, is_num = self.expr()
            ident = f"{self.fresh('L')}_{name}"
            self.emit(f"{ident} = {src}")
            self.scopes[-1][name] = ident, is_num  # in scope from the next statement on
        elif (k, v) == ("kw", "if"):
            self.emit(f"if {self.truthy(self.expr()[0])[0]}:")
            self.expect("kw", "then")
            self.block()
            self.expect("kw", "end")
        elif (k, v) == ("kw", "for"):  # numeric for only
            var = self.expect("name")
            self.expect("op", "=")
            lo = self.expr()[0]
            self.expect("op", ",")
            hi, step = self.expr()[0], "1.0"
            if self.peek() == ("op", ","):
                self.next()
                step = self.expr()[0]
            self.expect("kw", "do")
            ident = f"{self.fresh('L')}_{var}"
            self.emit(f"for {ident} in {self.helper('_range', lo, hi, step)}:")
            self.block(scope={var: (ident, True)})
            self.expect("kw", "end")
        elif (k, v) == ("kw", "return"):
            self.emit(f"return {self.expr()[0]}")
        else:
            self.i -= 1
            src, _ = self.prefix()
            if not self.called:  # as in Lua, only a call can be a statement
                raise SyntaxError(f"lua-sim: unexpected statement at {k} {v}")
            self.emit(src)

    def truthy(self, src):
        """Lua's test of ``src`` (only nil and false are falsy), and its temporary."""
        t = self.fresh("T")
        return f"(({t} := {src}) is not None and {t} is not False)", t

    # one precedence level per entry, loosest first, as in Lua
    _LEVELS = ({"or"}, {"and"}, {"==", "~=", *_ORDER}, {"+", "-"}, {"*"})

    def expr(self, level=0):
        if level == len(self._LEVELS):
            if self.peek() != ("op", "#"):
                return self.prefix()
            self.next()
            return self.helper("_len", self.expr(level)[0]), True
        left = self.expr(level + 1)
        while self.peek()[0] in ("op", "kw") and self.peek()[1] in self._LEVELS[level]:
            op = self.next()[1]
            (a, a_num), (b, b_num) = left, self.expr(level + 1)
            if op in ("or", "and"):
                test, t = self.truthy(a)
                left = (f"({t} if {test} else {b})" if op == "or"
                        else f"({b} if {test} else {t})"), a_num and b_num
            elif op in ("==", "~="):
                left = f"({'' if op == '==' else 'not '}{self.helper('_eq', a, b)})", False
            elif op in _ORDER:
                left = self.helper("_compare", a, b, repr(op)), False
            else:
                a = a if a_num else self.helper("_num", a)
                left = f"({a} {op} {b if b_num else self.helper('_num', b)})", True
        return left

    def prefix(self):
        """A prefix expression; ``self.called`` says whether it ends in a call."""
        k, v = self.next()
        self.called = False
        if k == "num":
            if float(v) == float("inf"):
                raise SyntaxError(f"lua-sim: number {v} is out of range")
            return repr(float(v)), True
        if k == "str":
            try:
                return repr(re.sub(r"\\(\d{1,3}|.)", lambda m: _ESCAPES[m.group(1)], v)), False
            except KeyError as e:
                raise SyntaxError(f"lua-sim: unsupported escape \\{e.args[0]}") from None
        if (k, v) == ("op", "("):
            src, is_num = self.expr()  # every emitted expression is already atomic
            self.expect("op", ")")
        elif k == "name":
            src, is_num = self.name(v)
        else:
            raise SyntaxError(f"lua-sim: unexpected {k} {v}")
        self.called = False
        while self.peek() in (("op", "."), ("op", "["), ("op", "(")):
            op, is_num = self.next()[1], False
            if op == ".":
                src = self.helper("_ix", src, repr(self.expect("name")))
            elif op == "[":
                src = self.helper("_ix", src, self.expr()[0])
                self.expect("op", "]")
            else:
                src = f"{src}({', '.join(self.args())})"
            self.called = op == "("
        return src, is_num

    def name(self, v):
        for scope in reversed(self.scopes):
            if v in scope:
                return scope[v]
        if v in _GLOBALS:
            return "G_" + v, False
        return self.helper("_undef", repr(v)), False  # Redis: reading one is an error

    def args(self):
        args = [] if self.peek() == ("op", ")") else [self.expr()[0]]
        while args and self.peek() == ("op", ","):
            self.next()
            args.append(self.expr()[0])
        self.expect("op", ")")
        return args


def compile_script(src: str):
    """Compile ``src`` once; the result runs it as EVAL with KEYS, ARGV
    and ``redis.call`` bound to ``call``. Raises ``SyntaxError`` on a
    construct outside the subset, Python's own nesting limits included."""
    c = _Compiler(_tokenize(src))
    try:
        c.block(stop=())
        code = compile("\n".join(c.out), "<lua-sim>", "exec")
    except (RecursionError, SyntaxError) as e:
        raise SyntaxError(str(e) if "lua-sim" in str(e) else f"lua-sim: {e}") from None
    env = {"__builtins__": {}, **{h: _HELPERS[h] for h in c.used}}
    exec(code, env)
    body = env["script"]

    def run(keys: list[str], argv: list[str], call):
        v = body(keys, argv, _tonumber, {"call": call}, _CJSON)
        # Redis truncates ANY Lua number to an integer in the EVAL
        # reply (fractional parts are dropped, not an error).
        return int(v) if isinstance(v, float) else v
    return run
