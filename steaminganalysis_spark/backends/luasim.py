"""Lua 5.1-subset interpreter for the mini-Redis server's EVAL.

Neither ``redis`` + a server, nor ``fakeredis``, nor ``lupa`` is
installable here, so ``MiniRedisServer`` runs scripts with this tiny
tree-walking interpreter for the subset Redis scripts use: local
assignment, if/then/return, numeric for, ``or`` fallback,
``tonumber``, ``#``, arithmetic/comparison, string/number literals,
and ``redis.call``. It holds no keyspace and takes no lock: the caller
passes the ``redis.call`` function, and the server passes one that
runs its own command dispatch under its command lock, so a command
behaves the same inside a script as over the wire.

Faithful Redis-Lua details that matter to the production script:
- all Lua numbers are doubles (Lua 5.1);
- a number returned from the script is truncated to an integer reply.

This is deliberately NOT general Lua: an unsupported construct raises
instead of guessing, so if the script grows past the subset the tests
fail loudly and this interpreter must be extended.
"""

from __future__ import annotations

import re

_TOKEN = re.compile(
    r"\s*(?:(?P<num>\d+\.?\d*)|(?P<name>[A-Za-z_][A-Za-z0-9_]*)"
    r"|(?P<str>'(?:[^'\\]|\\.)*')"
    r"|(?P<op><=|>=|==|~=|[#=<>+\-*(),.\[\]]))"
)
_KEYWORDS = {"local", "if", "then", "end", "for", "do", "return", "or", "and"}


def _tokenize(src: str) -> list[tuple[str, str]]:
    toks, i = [], 0
    src = "\n".join(line.split("--")[0] for line in src.splitlines())
    while i < len(src):
        m = _TOKEN.match(src, i)
        if not m:
            if src[i:].strip():
                raise SyntaxError(f"lua-sim: cannot tokenize at {src[i:i+20]!r}")
            break
        i = m.end()
        if m.lastgroup == "num":
            toks.append(("num", m.group("num")))
        elif m.lastgroup == "name":
            w = m.group("name")
            toks.append(("kw" if w in _KEYWORDS else "name", w))
        elif m.lastgroup == "str":
            toks.append(("str", m.group("str")[1:-1]))
        else:
            toks.append(("op", m.group("op")))
    return toks


class _Parser:
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
        return t

    def block(self, stop=("end",)):
        stats = []
        while True:
            k, v = self.peek()
            if k == "eof" or (k == "kw" and v in stop):
                return ("block", stats)
            stats.append(self.stat())

    def stat(self):
        k, v = self.peek()
        if (k, v) == ("kw", "local"):
            self.next()
            name = self.expect("name")[1]
            self.expect("op", "=")
            return ("local", name, self.expr())
        if (k, v) == ("kw", "if"):
            self.next()
            cond = self.expr()
            self.expect("kw", "then")
            body = self.block()
            self.expect("kw", "end")
            return ("if", cond, body)
        if (k, v) == ("kw", "for"):
            self.next()
            var = self.expect("name")[1]
            self.expect("op", "=")
            lo = self.expr()
            self.expect("op", ",")
            hi = self.expr()
            step = ("num", "1")
            if self.peek() == ("op", ","):
                self.next()
                step = self.expr()
            self.expect("kw", "do")
            body = self.block()
            self.expect("kw", "end")
            return ("for", var, lo, hi, step, body)
        if (k, v) == ("kw", "return"):
            self.next()
            return ("return", self.expr())
        return ("exprstat", self.expr())

    def expr(self):
        return self.or_()

    def or_(self):
        left = self.and_()
        while self.peek() == ("kw", "or"):
            self.next()
            left = ("or", left, self.and_())
        return left

    def and_(self):
        left = self.cmp()
        while self.peek() == ("kw", "and"):
            self.next()
            left = ("and", left, self.cmp())
        return left

    def cmp(self):
        left = self.add()
        while self.peek()[0] == "op" and self.peek()[1] in ("<=", "<", ">=", ">", "==", "~="):
            op = self.next()[1]
            left = ("cmp", op, left, self.add())
        return left

    def add(self):
        left = self.unary()
        while self.peek()[0] == "op" and self.peek()[1] in ("+", "-", "*"):
            op = self.next()[1]
            left = ("arith", op, left, self.unary())
        return left

    def unary(self):
        if self.peek() == ("op", "#"):
            self.next()
            return ("len", self.unary())
        return self.prefix()

    def prefix(self):
        k, v = self.next()
        if k == "num":
            node = ("num", v)
            return node
        if k == "str":
            return ("str", v)
        if k == "op" and v == "(":
            node = self.expr()
            self.expect("op", ")")
        elif k == "name":
            node = ("var", v)
        else:
            raise SyntaxError(f"lua-sim: unexpected {k} {v}")
        while True:
            nk, nv = self.peek()
            if (nk, nv) == ("op", "."):
                self.next()
                node = ("attr", node, self.expect("name")[1])
            elif (nk, nv) == ("op", "["):
                self.next()
                idx = self.expr()
                self.expect("op", "]")
                node = ("index", node, idx)
            elif (nk, nv) == ("op", "("):
                self.next()
                args = []
                if self.peek() != ("op", ")"):
                    args.append(self.expr())
                    while self.peek() == ("op", ","):
                        self.next()
                        args.append(self.expr())
                self.expect("op", ")")
                node = ("call", node, args)
            else:
                return node


class _Return(Exception):
    def __init__(self, value):
        self.value = value


def _truthy(v):
    # Lua: only nil and false are falsy (0 and '' are truthy)
    return not (v is None or v is False)


class LuaScriptRunner:
    """EVAL(script, KEYS, ARGV) with ``redis.call`` bound to ``call``."""

    def eval(self, script: str, keys: list[str], argv: list[str], call):
        ast = _Parser(_tokenize(script)).block(stop=())
        env = {
            "KEYS": keys,
            "ARGV": argv,
            "tonumber": self._tonumber,
            "redis": {"call": call},
        }
        try:
            self._exec(ast, env)
        except _Return as r:
            v = r.value
            # Redis truncates ANY Lua number to an integer in the EVAL
            # reply (fractional parts are dropped, not an error).
            return int(v) if isinstance(v, float) else v
        return None

    @staticmethod
    def _tonumber(v):
        if isinstance(v, (int, float)):
            return float(v)
        if isinstance(v, str):
            try:
                return float(v)
            except ValueError:
                return None
        return None  # false / nil → nil

    def _exec(self, node, env):
        kind = node[0]
        if kind == "block":
            for s in node[1]:
                self._exec(s, env)
        elif kind == "local":
            env[node[1]] = self._eval(node[2], env)
        elif kind == "if":
            if _truthy(self._eval(node[1], env)):
                self._exec(node[2], env)
        elif kind == "for":
            i = self._eval(node[2], env)
            hi = self._eval(node[3], env)
            step = self._eval(node[4], env)
            while (step > 0 and i <= hi) or (step < 0 and i >= hi):
                env[node[1]] = i
                self._exec(node[5], env)
                i += step
        elif kind == "return":
            raise _Return(self._eval(node[1], env))
        elif kind == "exprstat":
            self._eval(node[1], env)
        else:
            raise NotImplementedError(f"lua-sim stat: {kind}")

    def _eval(self, node, env):
        kind = node[0]
        if kind == "num":
            return float(node[1])
        if kind == "str":
            return node[1]
        if kind == "var":
            if node[1] not in env:
                raise NameError(f"lua-sim: undefined {node[1]}")
            return env[node[1]]
        if kind == "attr":
            return self._eval(node[1], env)[node[2]]
        if kind == "index":
            seq = self._eval(node[1], env)
            idx = int(self._eval(node[2], env))
            return seq[idx - 1]  # Lua is 1-indexed
        if kind == "call":
            fn = self._eval(node[1], env)
            args = [self._eval(a, env) for a in node[2]]
            return fn(*args)
        if kind == "len":
            return float(len(self._eval(node[1], env)))
        if kind == "or":
            left = self._eval(node[1], env)
            return left if _truthy(left) else self._eval(node[2], env)
        if kind == "and":
            left = self._eval(node[1], env)
            return self._eval(node[2], env) if _truthy(left) else left
        if kind == "cmp":
            a, b = self._eval(node[2], env), self._eval(node[3], env)
            return {
                "<=": a <= b, "<": a < b, ">=": a >= b, ">": a > b,
                "==": a == b, "~=": a != b,
            }[node[1]]
        if kind == "arith":
            a, b = self._eval(node[2], env), self._eval(node[3], env)
            a = float(a) if isinstance(a, str) else a
            b = float(b) if isinstance(b, str) else b
            return {"+": a + b, "-": a - b, "*": a * b}[node[1]]
        raise NotImplementedError(f"lua-sim expr: {kind}")
