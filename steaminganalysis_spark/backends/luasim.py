"""Lua 5.1-subset compiler for the mini-Redis server's EVAL.

Neither ``redis`` + a server, nor ``fakeredis``, nor ``lupa`` is
installable here, so ``MiniRedisServer`` runs scripts compiled by this
module, for the subset Redis scripts use: local assignment,
if/then/return, numeric for, ``and``/``or``, ``tonumber``, ``#``,
arithmetic/comparison, string/number literals, ``--`` comments and
``redis.call``. ``compile_script`` parses a script in one pass in which
each grammar rule returns a closure with its operands bound in (there
is no syntax tree); the server compiles a script once and keeps the
result by SHA. The compiled script holds no keyspace and takes no lock:
the server passes a ``redis.call`` that runs its own command dispatch
under its command lock, so a command behaves the same inside a script
as over the wire.

Faithful Redis-Lua details that matter to the production script:
- all Lua numbers are doubles (Lua 5.1);
- a number returned from the script is truncated to an integer reply.

This is deliberately NOT general Lua: an unsupported construct raises
a ``SyntaxError`` naming ``lua-sim`` instead of guessing, so if the
script grows past the subset the tests fail loudly and this compiler
must be extended.
"""

from __future__ import annotations

import operator
import re

__all__ = ["compile_script"]

# Whitespace and ``--`` comments are skipped possessively, so a comment
# ending the script is never re-read as ``-`` operators.
_TOKEN = re.compile(
    r"(?:\s+|--[^\n]*)*+(?:(?P<num>\d+\.?\d*)|(?P<name>[A-Za-z_][A-Za-z0-9_]*)"
    r"|(?P<str>'(?:[^'\\]|\\.)*')"
    r"|(?P<op><=|>=|==|~=|[#=<>+\-*(),.\[\]])|(?P<eof>\Z))"
)
# all of Lua 5.1's reserved words, so one outside the subset (``else``,
# ``while``, ``true``...) fails to compile instead of reading as a variable
_KEYWORDS = set("and break do else elseif end false for function if in local nil not"
                " or repeat return then true until while".split())


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


def _const(v):
    return lambda env: v


def _eq(a, b):
    # Lua: values of different types are never equal (1 == '1' is false)
    return type(a) is type(b) and a == b


def _num(v):
    # Lua coerces a numeric string operand of arithmetic to a number
    return float(v) if type(v) is str else v


_CMP = {"<=": operator.le, "<": operator.lt, ">=": operator.ge, ">": operator.gt,
        "==": _eq, "~=": lambda a, b: not _eq(a, b)}
_ARITH = {"+": operator.add, "-": operator.sub, "*": operator.mul}


def _truthy(v):
    # Lua: only nil and false are falsy (0 and '' are truthy)
    return not (v is None or v is False)


def _tonumber(v):
    try:
        return float(v) if type(v) in (float, str) else None  # false / nil / table → nil
    except ValueError:
        return None


class _Compiler:
    """Recursive descent over the tokens. A statement compiles to
    ``f(env)``, which returns None to go on or ``(value,)`` to return;
    an expression compiles to ``f(env) -> value``."""

    def __init__(self, toks):
        self.toks, self.i = toks, 0

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

    def block(self, stop=("end",)):
        stats, stops = [], [("eof", "")] + [("kw", s) for s in stop]
        while self.peek() not in stops:
            stats.append(self.stat())

        def run(env):
            for s in stats:
                r = s(env)
                if r is not None:
                    return r
        return run

    def stat(self):
        k, v = self.next()
        if (k, v) == ("kw", "local"):
            name = self.expect("name")
            self.expect("op", "=")
            e = self.expr()
            return lambda env: env.__setitem__(name, e(env))
        if (k, v) == ("kw", "if"):
            cond = self.expr()
            self.expect("kw", "then")
            body = self.block()
            self.expect("kw", "end")
            return lambda env: body(env) if _truthy(cond(env)) else None
        if (k, v) == ("kw", "for"):
            return self.numeric_for()
        if (k, v) == ("kw", "return"):
            e = self.expr()
            return lambda env: (e(env),)
        self.i -= 1
        e = self.prefix()
        if not self.called:  # as in Lua, only a call can be a statement
            raise SyntaxError(f"lua-sim: unexpected statement at {k} {v}")

        def run(env):
            e(env)
        return run

    def numeric_for(self):
        var = self.expect("name")
        self.expect("op", "=")
        lo = self.expr()
        self.expect("op", ",")
        hi = self.expr()
        step = _const(1.0)
        if self.peek() == ("op", ","):
            self.next()
            step = self.expr()
        self.expect("kw", "do")
        body = self.block()
        self.expect("kw", "end")

        def run(env):
            i, stop, st = lo(env), hi(env), step(env)
            while (st > 0 and i <= stop) or (st < 0 and i >= stop):
                env[var] = i
                r = body(env)
                if r is not None:
                    return r
                i += st
        return run

    def expr(self):
        return self.binary(0)

    # one precedence level per entry, loosest first, as in Lua
    _LEVELS = ({"or"}, {"and"}, set(_CMP), {"+", "-"}, {"*"})

    def binary(self, level):
        if level == len(self._LEVELS):
            return self.unary()
        left = self.binary(level + 1)
        while self.peek()[0] in ("op", "kw") and self.peek()[1] in self._LEVELS[level]:
            op = self.next()[1]
            left = _binary(op, left, self.binary(level + 1))
        return left

    def unary(self):
        if self.peek() == ("op", "#"):
            self.next()
            e = self.unary()
            return lambda env: float(len(e(env)))
        return self.prefix()

    def prefix(self):
        """A prefix expression; ``self.called`` says whether it ends in a call."""
        k, v = self.next()
        self.called = False
        if k in ("num", "str"):
            return _const(float(v) if k == "num" else v)
        if (k, v) == ("op", "("):
            node = self.expr()
            self.expect("op", ")")
            self.called = False
        elif k == "name":
            node = _var(v)
        else:
            raise SyntaxError(f"lua-sim: unexpected {k} {v}")
        while self.peek() in (("op", "."), ("op", "["), ("op", "(")):
            op = self.next()[1]
            if op == ".":
                node = _attr(node, self.expect("name"))
            elif op == "[":
                node = _index(node, self.expr())
                self.expect("op", "]")
            else:
                node = _call(node, self.args())
            self.called = op == "("
        return node

    def args(self):
        args = []
        if self.peek() != ("op", ")"):
            args.append(self.expr())
            while self.peek() == ("op", ","):
                self.next()
                args.append(self.expr())
        self.expect("op", ")")
        return args


# Closure factories: each binds its operands, the compiled sub-expressions.
def _binary(op, a, b):
    if op == "or":
        return lambda env: x if _truthy(x := a(env)) else b(env)
    if op == "and":
        return lambda env: b(env) if _truthy(x := a(env)) else x
    if op in _CMP:
        f = _CMP[op]
        return lambda env: f(a(env), b(env))
    f = _ARITH[op]
    return lambda env: f(_num(a(env)), _num(b(env)))


def _var(name):
    def get(env):
        try:
            return env[name]
        except KeyError:
            raise NameError(f"lua-sim: undefined {name}") from None
    return get


def _attr(obj, name):
    return lambda env: obj(env)[name]


def _index(seq, idx):
    def get(env):
        s, i = seq(env), int(idx(env)) - 1  # Lua is 1-indexed
        return s[i] if 0 <= i < len(s) else None  # past either end → nil
    return get


def _call(fn, args):
    return lambda env: fn(env)(*[a(env) for a in args])


def compile_script(src: str):
    """Compile ``src`` once; the result runs it as EVAL with KEYS, ARGV
    and ``redis.call`` bound to ``call``. Raises ``SyntaxError`` on a
    construct outside the subset."""
    body = _Compiler(_tokenize(src)).block(stop=())

    def run(keys: list[str], argv: list[str], call):
        r = body({"KEYS": keys, "ARGV": argv, "tonumber": _tonumber, "redis": {"call": call}})
        v = r[0] if r is not None else None
        # Redis truncates ANY Lua number to an integer in the EVAL
        # reply (fractional parts are dropped, not an error).
        return int(v) if isinstance(v, float) else v
    return run
