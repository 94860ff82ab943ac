"""Pure-Python mini-Redis: a Redis keyspace, a RESP2 TCP server for it,
and two clients.

VERDICT r4 order #3: no redis-server binary, no ``redis`` package, no
network to fetch either — but the *protocol* needs no install. This
module implements exactly the command surface the KV sink uses
(reference parity: CommonUtil.scala:39-49's Jedis calls):

    PING SELECT GET SET SETNX HINCRBY HGETALL SCAN
    SCRIPT LOAD  EVALSHA  EVAL  FLUSHALL

``MiniRedisServer`` is the only place a command is implemented. It owns
one keyspace (key -> string or hash) under one command lock. As Redis
does, it compiles a script once, at SCRIPT LOAD or its first EVAL, and
keeps it by SHA; the compiler is the in-repo Lua-5.1-subset one
(``steaminganalysis_spark.backends.luasim``), which compiles a script
to Python source once. A script's environment is ``KEYS``, ``ARGV``,
``tonumber``, ``redis.call`` and ``cjson.decode`` (for a JSON array of
strings, the sink's increment payload); ``redis.call`` runs the
server's own dispatch, so a command inside a script behaves exactly as
it does over the wire. As in Redis, a nil reply reaches the
script as ``false``, an integer reply as a Lua number, and an error
reply aborts the script; holding the command lock for the whole script
gives the atomicity a real Redis gives scripts.

The server binds its socket only in ``start()``. ``MiniRedisClient``
talks RESP2 to a started one; ``LocalMiniRedisClient`` (the in-process
``KVStore``'s client) runs an unstarted one's dispatch with no socket.
Both implement the slice of the ``redis.Redis`` API that
``RedisKVStore`` consumes (``from_url``, ``get``, ``hgetall``,
``scan_iter``, ``register_script``; tests and the benchmark also use
``ping``, ``set``, ``setnx``, ``hincrby``), so the sink code is
byte-identical whether it talks to a real server or this one.

Scale note: this is a test/sandbox backend. On a real deployment the
same ``RedisKVStore`` binds to redis-py against a production server;
nothing in the hot sink path (one EVAL per micro-batch carrying the
pre-aggregated per-day deltas, O(days) not O(rows)) changes.
"""

from __future__ import annotations

import fnmatch
import hashlib
import socket
import socketserver
import threading
from collections.abc import Callable

from steaminganalysis_spark.backends.luasim import compile_script

__all__ = ["MiniRedisServer", "MiniRedisClient", "LocalMiniRedisClient"]

_WRONG_TYPE = "WRONGTYPE Operation against a key holding the wrong kind of value"
_INT64_MIN, _INT64_MAX = -(2**63), 2**63 - 1


# --------------------------------------------------------------------------
# RESP2 encoding / decoding (shared by server and client)
# --------------------------------------------------------------------------


def _encode_command(args: list[str]) -> bytes:
    """Client→server: an array of bulk strings."""
    out = [b"*%d\r\n" % len(args)]
    for a in args:
        b = a.encode() if isinstance(a, str) else bytes(a)
        out.append(b"$%d\r\n%s\r\n" % (len(b), b))
    return b"".join(out)


def _encode_reply(v) -> bytes:
    """Server→client: map Python values onto RESP2 reply types."""
    if isinstance(v, _Error):
        return b"-%s\r\n" % v.message.encode()
    if isinstance(v, int):
        return b":%d\r\n" % v
    if v is None:
        return b"$-1\r\n"
    if isinstance(v, str):
        b = v.encode()
        return b"$%d\r\n%s\r\n" % (len(b), b)
    if isinstance(v, _Simple):
        return b"+%s\r\n" % v.text.encode()
    if isinstance(v, (list, tuple)):
        return b"*%d\r\n" % len(v) + b"".join(_encode_reply(x) for x in v)
    raise TypeError(f"unencodable reply: {v!r}")


class _Simple:
    """Marker for a RESP simple-string reply (+OK vs bulk)."""

    def __init__(self, text: str) -> None:
        self.text = text


class _Error:
    def __init__(self, message: str) -> None:
        self.message = message


class _Reader:
    """Incremental RESP2 parser over a socket (blocking), shared by the
    server and the client.

    Parsing is linear in the bytes received: the reader advances an
    offset into its buffer and drops the consumed prefix only when it
    ``recv``s more, so a command of 30 000 arguments is not re-copied
    once per argument."""

    def __init__(self, sock: socket.socket) -> None:
        self._sock = sock
        self._buf = bytearray()
        self._pos = 0  # start of the unparsed bytes in _buf

    def _fill(self) -> bool:
        """Receive more bytes; False ⇔ the peer closed."""
        chunk = self._sock.recv(65536)
        if not chunk:
            return False
        # each recv copies at most the unconsumed tail once: parse stays linear
        del self._buf[: self._pos]
        self._pos = 0
        self._buf += chunk
        return True

    def _read_line(self) -> bytearray | None:
        while (end := self._buf.find(b"\r\n", self._pos)) < 0:
            if not self._fill():
                return None  # peer closed
        line = self._buf[self._pos : end]
        self._pos = end + 2
        return line

    def _read_exact(self, n: int) -> bytearray:
        while len(self._buf) - self._pos < n + 2:  # payload + trailing \r\n
            if not self._fill():
                raise ConnectionError("peer closed mid-bulk")
        data = self._buf[self._pos : self._pos + n]
        self._pos += n + 2
        return data

    def read_value(self):
        """One RESP value; None ⇔ connection closed at a boundary."""
        line = self._read_line()
        if line is None:
            return None
        kind, rest = line[:1], line[1:]
        if kind == b"+":
            return rest.decode()
        if kind == b"-":
            raise ResponseError(rest.decode())
        if kind == b":":
            return int(rest)
        if kind == b"$":
            n = int(rest)
            if n == -1:
                return _NIL
            return self._read_exact(n).decode()
        if kind == b"*":
            n = int(rest)
            if n == -1:
                return _NIL
            out = []
            for _ in range(n):
                v = self.read_value()
                if v is None:
                    raise ConnectionError("peer closed mid-array")
                out.append(v)
            return out
        raise ResponseError(f"protocol error: unknown type byte {bytes(kind)!r}")


class ResponseError(Exception):
    """Server sent a -ERR reply (mirrors redis.exceptions.ResponseError)."""


class _Nil:
    """Sentinel distinguishing RESP nil from a closed connection."""

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return "<nil>"


_NIL = _Nil()


# --------------------------------------------------------------------------
# Server
# --------------------------------------------------------------------------


class _Handler(socketserver.BaseRequestHandler):
    def handle(self) -> None:  # one connection, many commands
        reader = _Reader(self.request)
        server: MiniRedisServer = self.server.owner  # type: ignore[attr-defined]
        while True:
            try:
                cmd = reader.read_value()
            except (ConnectionError, OSError):
                return
            if cmd is None:
                return
            # the reader already decoded each bulk argument to str
            if not isinstance(cmd, list) or not cmd:
                reply = _Error("ERR protocol error: expected command array")
            elif not all(type(a) is str for a in cmd):
                reply = _Error("ERR protocol error: expected bulk string arguments")
            else:
                reply = server.dispatch(cmd)
            try:
                self.request.sendall(_encode_reply(reply))
            except OSError:
                return


class _TCPServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True


class MiniRedisServer:
    """Threaded RESP2 server, bound by ``start()`` to 127.0.0.1 on an
    ephemeral port; unstarted, a socketless keyspace.

    All commands run under one lock — single-threaded command
    execution, exactly Redis's concurrency model, which is what makes
    EVAL atomic without MULTI/EXEC.
    """

    def __init__(self, host: str = "127.0.0.1", port: int = 0) -> None:
        self._data: dict[str, str | dict[str, int]] = {}  # string or hash
        self._scripts: dict[str, Callable] = {}  # SHA -> compiled script
        self._mu = threading.Lock()
        self.host, self.port = host, port

    # -- lifecycle -----------------------------------------------------
    def start(self) -> "MiniRedisServer":
        self._tcp = _TCPServer((self.host, self.port), _Handler)
        self._tcp.owner = self  # type: ignore[attr-defined]
        self.host, self.port = self._tcp.server_address[:2]
        threading.Thread(
            target=self._tcp.serve_forever, name="miniredis", daemon=True
        ).start()
        return self

    def stop(self) -> None:
        self._tcp.shutdown()
        self._tcp.server_close()

    @property
    def url(self) -> str:
        return f"redis://{self.host}:{self.port}/0"

    # -- command dispatch ----------------------------------------------
    def dispatch(self, argv: list[str]):
        with self._mu:
            try:
                return self._dispatch_locked(argv)
            except ResponseError as e:
                return _Error(str(e))
            except Exception as e:  # surface, never crash the server
                return _Error(f"ERR {type(e).__name__}: {e}")

    def _dispatch_locked(self, argv: list[str]):
        cmd, args = argv[0].upper(), argv[1:]
        data = self._data
        if cmd == "HINCRBY":  # the sink's hot command: test it first
            delta = _int64(args[2])
            h = data.get(args[0])
            if isinstance(h, str):
                raise ResponseError(_WRONG_TYPE)
            v = (h.get(args[1], 0) if h else 0) + delta
            if not _INT64_MIN <= v <= _INT64_MAX:
                raise ResponseError("ERR increment or decrement would overflow")
            if h is None:
                h = data[args[0]] = {}
            h[args[1]] = v
            return v
        if cmd == "GET":
            v = data.get(args[0])
            if isinstance(v, dict):
                raise ResponseError(_WRONG_TYPE)
            return v
        if cmd == "SET":
            data[args[0]] = args[1]
            return _Simple("OK")
        if cmd == "SETNX":
            if args[0] in data:
                return 0
            data[args[0]] = args[1]
            return 1
        if cmd == "HGETALL":
            h = data.get(args[0], {})
            if isinstance(h, str):
                raise ResponseError(_WRONG_TYPE)
            out: list[str] = []
            for f, v in h.items():
                out += [f, str(v)]
            return out
        if cmd == "PING":
            return _Simple("PONG")
        if cmd == "SELECT":  # single logical db; accept and ignore index
            return _Simple("OK")
        if cmd == "FLUSHALL":
            data.clear()
            return _Simple("OK")
        if cmd == "SCAN":
            return self._scan(args)
        if cmd == "SCRIPT":
            if args and args[0].upper() == "LOAD":
                return self._load(args[1])
            raise ResponseError(f"ERR Unknown SCRIPT subcommand {args[:1]}")
        if cmd == "EVALSHA":
            script = self._scripts.get(args[0].lower())
            if script is None:
                raise ResponseError("NOSCRIPT No matching script")
            return self._run(script, args[1:])
        if cmd == "EVAL":
            return self._run(self._scripts[self._load(args[0])], args[1:])
        raise ResponseError(f"ERR unknown command '{cmd}'")

    def _scan(self, args: list[str]):
        # The whole iteration in one reply, cursor 0 next: COUNT is only
        # a hint in Redis, and every caller loops until cursor 0. One
        # pass over the keyspace under one hold of the lock also sees
        # no mutation between pages, since there are none.
        match, type_filter = "*", None
        i = 1
        while i < len(args):
            opt = args[i].upper()
            if opt == "MATCH":
                match, i = args[i + 1], i + 2
            elif opt == "TYPE":
                type_filter, i = args[i + 1].lower(), i + 2
            elif opt == "COUNT" and args[i + 1].isdigit():  # a hint only
                i += 2
            else:
                raise ResponseError(f"ERR syntax error near '{args[i]}'")
        want = {None: (dict, str), "hash": dict, "string": str}.get(type_filter, ())
        return ["0", [
            k for k, v in self._data.items()
            if isinstance(v, want) and fnmatch.fnmatchcase(k, match)
        ]]

    def _load(self, src: str) -> str:
        """Compile a script once and keep it by SHA, as Redis does."""
        sha = hashlib.sha1(src.encode()).hexdigest()
        if sha not in self._scripts:
            try:
                self._scripts[sha] = compile_script(src)
            except SyntaxError as e:
                raise ResponseError(f"ERR Error compiling script: {e}") from None
        return sha

    def _run(self, script: Callable, args: list[str]):
        nkeys = int(args[0])
        keys, argv = args[1 : 1 + nkeys], args[1 + nkeys :]
        v = script(keys, argv, self._script_call)
        if type(v) is bool:  # Lua true → 1, false → nil (Redis semantics)
            return 1 if v else None
        return v

    def _script_call(self, *argv):
        """``redis.call``: the script's command runs the same dispatch a
        wire command does (the command lock is already held). An error
        reply raises out of the compiled script, aborting it."""
        v = self._dispatch_locked([a if type(a) is str else _lua_arg(a) for a in argv])
        if v is None:
            return False  # nil bulk reply → Lua false
        return float(v) if type(v) is int else v  # Lua 5.1 numbers are doubles


def _int64(v: str) -> int:
    """Redis's string2ll: a canonical decimal integer within int64."""
    try:
        n = int(v)
        if str(n) == v and _INT64_MIN <= n <= _INT64_MAX:
            return n
    except ValueError:
        pass
    raise ResponseError("ERR value is not an integer or out of range")


def _lua_arg(a) -> str:
    """Redis converts a Lua number argument of ``redis.call`` to text."""
    if type(a) is float:
        return str(int(a)) if a.is_integer() else repr(a)
    raise ResponseError("ERR Lua redis lib command arguments must be strings or integers")


# --------------------------------------------------------------------------
# Client — the redis.Redis subset RedisKVStore consumes
# --------------------------------------------------------------------------


class _Script:
    """redis-py Script-object twin: EVALSHA with NOSCRIPT→EVAL fallback."""

    def __init__(self, client: "MiniRedisClient", script: str) -> None:
        self._client = client
        self._script = script
        self.sha = hashlib.sha1(script.encode()).hexdigest()

    def __call__(self, keys=(), args=()):
        keys = list(keys)  # args become text once, in execute_command
        try:
            return self._client.execute_command(
                "EVALSHA", self.sha, str(len(keys)), *keys, *args
            )
        except ResponseError as e:
            if not str(e).startswith("NOSCRIPT"):
                raise
            self.sha = self._client.execute_command("SCRIPT", "LOAD", self._script)
            return self._client.execute_command(
                "EVALSHA", self.sha, str(len(keys)), *keys, *args
            )


class MiniRedisClient:
    """Socket client speaking RESP2, API-compatible (subset) with
    ``redis.Redis(decode_responses=True)``. One connection, one lock —
    callers here are Spark's foreachBatch thread. It connects on its
    first command; a connection error drops the socket and re-raises,
    and the next command reconnects, as redis-py's connection does. The
    failed command is never resent: whether it ran is unknown, and the
    sink's batch marker makes Spark's replay of the batch safe."""

    _sock: socket.socket | None = None  # connected by the first command

    def __init__(self, host: str, port: int) -> None:
        self._addr = (host, port)
        self._mu = threading.Lock()

    @classmethod
    def from_url(cls, url: str, decode_responses: bool = True) -> "MiniRedisClient":
        # redis://host:port/db — db index accepted and ignored (single db)
        rest = url.split("://", 1)[1]
        hostport = rest.split("/", 1)[0]
        host, _, port = hostport.rpartition(":")
        return cls(host or "127.0.0.1", int(port))

    def execute_command(self, *args: str):
        with self._mu:
            try:
                if self._sock is None:
                    self._sock = socket.create_connection(self._addr)
                    self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                    self._reader = _Reader(self._sock)
                self._sock.sendall(_encode_command([str(a) for a in args]))
                v = self._reader.read_value()
                if v is None:
                    raise ConnectionError("miniredis server closed the connection")
            except OSError:
                self.close()
                raise
        return None if v is _NIL else v

    def close(self) -> None:
        if self._sock is not None:
            self._sock.close()
            self._sock = None

    # -- the RedisKVStore surface ---------------------------------------
    def ping(self) -> bool:
        return self.execute_command("PING") == "PONG"

    def get(self, key: str):
        return self.execute_command("GET", key)

    def set(self, key: str, value: str) -> bool:
        return self.execute_command("SET", key, str(value)) == "OK"

    def setnx(self, key: str, value: str) -> int:
        return self.execute_command("SETNX", key, str(value))

    def hincrby(self, key: str, field: str, delta: int) -> int:
        return self.execute_command("HINCRBY", key, field, str(int(delta)))

    def hgetall(self, key: str) -> dict[str, str]:
        flat = self.execute_command("HGETALL", key)
        return dict(zip(flat[::2], flat[1::2]))

    def scan_iter(self, match: str = "*", count: int | None = None, _type: str | None = None):
        cursor = "0"
        while True:
            cmd = ["SCAN", cursor, "MATCH", match]
            if count:
                cmd += ["COUNT", str(count)]
            if _type:
                cmd += ["TYPE", _type]
            cursor, keys = self.execute_command(*cmd)
            yield from keys
            if cursor == "0":
                break

    def register_script(self, script: str) -> _Script:
        self.execute_command("SCRIPT", "LOAD", script)
        return _Script(self, script)


class LocalMiniRedisClient(MiniRedisClient):
    """Socketless client of a fresh, unstarted server in this process:
    each command runs the server's dispatch, and the reply comes back
    as the wire client reads it."""

    def __init__(self) -> None:
        self._server = MiniRedisServer()

    def execute_command(self, *args: str):
        return _as_read(self._server.dispatch([str(a) for a in args]))


def _as_read(v):
    """A dispatch reply as ``_Reader`` decodes its RESP2 encoding."""
    if isinstance(v, _Error):
        raise ResponseError(v.message)
    if isinstance(v, list):
        return [_as_read(x) for x in v]
    return v.text if isinstance(v, _Simple) else v
