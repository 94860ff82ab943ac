"""Execute the production Redis Lua apply-batch script: ``_APPLY_BATCH_LUA``
runs through ``RedisKVStore`` against an in-process ``MiniRedisServer``,
the same bytes and the same executor a ``redis://`` deployment, the
benchmark and the in-process ``KVStore`` use. The server's
``redis.call`` runs its own command dispatch, so the tests also pin
that a command replies the same inside ``EVAL``, over the wire and
through the socketless client of the in-process store. The store
passes the same assertions as
test_streaming.py::test_idempotent_sink_skips_replayed_batch plus an
equivalence sweep against a plain dict-and-marker model written in the
test. If the script drifts (a typo in HINCRBY marshalling, an
off-by-one in the ARGV stride, a broken marker compare) these fail.
Other scripts pin the compiler's Lua rules (equality across types,
comments, precedence, table indexing, block scoping, refusal at SCRIPT
LOAD), ``cjson.decode`` of the apply script's payload, that the
emitted Python cannot be steered by a literal or a local's name, and
that the server compiles each script once."""

from __future__ import annotations

import json
from contextlib import closing

import pytest

from steaminganalysis_spark.backends.miniredis import MiniRedisClient, ResponseError
from steaminganalysis_spark.streaming.sinks import KVStore

MARKER = "sa-spark-last-applied-batch:test"


def test_lua_apply_batch_skips_replay_and_lower_ids(miniredis):
    s = KVStore.instance(miniredis)
    inc = [("d1", "total", 5)]
    assert s.apply_batch(4, inc, MARKER) is True
    # crash-replay of the SAME batch id: whole batch skipped, no
    # double-count (the exactly-once property the script exists for)
    assert s.apply_batch(4, inc, MARKER) is False
    assert s.apply_batch(3, inc, MARKER) is False  # stale id too
    assert s.hgetall("d1") == {"total": 5}
    assert s.last_applied(MARKER) == 4
    # the next id accumulates on top
    assert s.apply_batch(5, inc, MARKER) is True
    assert s.hgetall("d1") == {"total": 10}


def test_lua_apply_batch_empty_increments_still_advances(miniredis):
    """An empty micro-batch must still advance the watermark, else its
    id replays forever."""
    s = KVStore.instance(miniredis)
    assert s.apply_batch(2, [], MARKER) is True
    assert s.last_applied(MARKER) == 2
    assert s.keys() == []


def test_lua_negative_deltas_and_multi_field(miniredis):
    s = KVStore.instance(miniredis)
    s.apply_batch(0, [("d", "x", -7), ("d", "x", 3), ("d", "y", 2)], MARKER)
    assert s.hgetall("d") == {"x": -4, "y": 2}


def test_lua_script_equals_python_twin_on_random_sequence(miniredis):
    """Model equivalence: an arbitrary interleaving of applies, replays
    and stale ids leaves the Lua-backed store and a plain Python model
    (hashes plus one marker) in identical final states."""
    import random

    rng = random.Random(42)
    lua = KVStore.instance(miniredis)
    hashes: dict[str, dict[str, int]] = {}
    marker = -1
    for _ in range(60):
        bid = rng.randint(0, 12)
        inc = [
            (f"day-{rng.randint(0, 3)}", f, rng.randint(-5, 20))
            for f in ("total", "success", "fee_cents")
        ]
        applied = bid > marker
        if applied:
            for key, field, delta in inc:
                h = hashes.setdefault(key, {})
                h[field] = h.get(field, 0) + delta
            marker = bid
        assert lua.apply_batch(bid, inc, MARKER) == applied
    assert {k: lua.hgetall(k) for k in sorted(lua.keys())} == hashes
    assert lua.last_applied(MARKER) == marker


def test_lua_store_through_foreachbatch_body(spark, miniredis):
    """End-to-end through the real sink body: drive
    ``apply_day_rollup_batch`` (the foreachBatch body) against the
    server-backed store — keys carry the day prefix, a replayed batch
    id is skipped, and the next id accumulates, exactly as the
    Python-twin test asserts."""
    from steaminganalysis_spark.streaming.datagen import order_events_batch, to_kafka_json
    from steaminganalysis_spark.streaming.pipeline import (
        classify_orders,
        day_rollup_delta,
        parse_order_json,
    )
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, apply_day_rollup_batch

    df = classify_orders(parse_order_json(to_kafka_json(order_events_batch(spark, 50))))
    apply_day_rollup_batch(df, batch_id=7, agg_fn=day_rollup_delta, store_name=miniredis)
    store = KVStore.instance(miniredis)
    before = {k: store.hgetall(k) for k in store.keys()}
    assert before, "first apply wrote nothing"
    assert all(k.startswith(KEY_PREFIX) for k in before)
    apply_day_rollup_batch(df, batch_id=7, agg_fn=day_rollup_delta, store_name=miniredis)
    assert {k: store.hgetall(k) for k in store.keys()} == before
    apply_day_rollup_batch(df, batch_id=8, agg_fn=day_rollup_delta, store_name=miniredis)
    doubled = {k: store.hgetall(k) for k in store.keys()}
    for k, h in before.items():
        assert doubled[k]["total"] == 2 * h["total"]


def test_lua_runner_rejects_unsupported_constructs(miniredis):
    """The compiler is deliberately partial: growth of the script
    past the supported subset must fail loudly with an error reply, not
    silently no-op, and the server keeps serving."""
    with closing(MiniRedisClient.from_url(miniredis)) as r:
        with pytest.raises(ResponseError, match="lua-sim"):
            r.execute_command("EVAL", "while true do end", "0")
        # a reserved word outside the subset is refused, not read as a
        # variable (which silently skipped this `else` branch)
        with pytest.raises(ResponseError, match="lua-sim"):
            r.execute_command("EVAL", "if 1 == 2 then return 1 else return 2 end", "0")
        # as in Lua, an expression that is not a call is no statement
        with pytest.raises(ResponseError, match="lua-sim"):
            r.execute_command("EVAL", "local x = 1 x return 2", "0")
        with pytest.raises(ResponseError, match="lua-sim"):
            r.execute_command("EVAL", "redis.call('PING') 'a' return 2", "0")
        # as in Redis, a script that does not compile is refused at load
        with pytest.raises(ResponseError, match="Error compiling script.*lua-sim"):
            r.execute_command("SCRIPT", "LOAD", "while true do end")
        assert r.ping()


# name: (script, KEYS, ARGV, Redis's reply)
_SCRIPTS = {
    "eq-across-types-false": ("return 1 == 'a'", [], [], None),
    "ne-across-types-true": ("return 1 ~= 'a'", [], [], 1),
    "dashes-in-string": (
        "redis.call('SET', KEYS[1], 'a--b') return redis.call('GET', KEYS[1])",
        ["k"], [], "a--b",
    ),
    "comment-line": ("-- a comment\nreturn ARGV[1] -- trailing", [], ["v"], "v"),
    "mul-binds-tighter-than-add": ("return 1 + 2 * 3", [], [], 7),
    "index-out-of-range-nil": ("return ARGV[0]", [], ["v"], None),
    # only an integral number in 1..#t reads an element; Redis gives nil
    # for a fraction, a numeric string and a string key alike
    "index-fraction-nil": ("return ARGV[1.5]", [], ["a", "b"], None),
    "index-numeric-string-nil": ("return ARGV[ARGV[1]]", [], ["2", "b"], None),
    "index-string-key-nil": ("return ARGV['a']", [], ["a", "b"], None),
}


@pytest.mark.parametrize("case", list(_SCRIPTS))
def test_lua_script_replies_as_redis(miniredis, case):
    """Scripts outside the production one still get Lua's and Redis's
    answer: equality across types, ``--`` inside a string literal,
    comments, operator precedence, and an index past the end or not an
    integral number."""
    script, keys, argv, reply = _SCRIPTS[case]
    with closing(MiniRedisClient.from_url(miniredis)) as r:
        assert r.execute_command("EVAL", script, str(len(keys)), *keys, *argv) == reply


def test_cjson_decode_reads_a_json_array_of_strings(miniredis):
    """``cjson.decode`` of the apply script's payload: ``#`` counts the
    elements, reads are 1-based, an index past the end is nil, and an
    escaped character decodes to the text Python's ``json`` gives."""
    payload = json.dumps(["a", "b", "c"], separators=(",", ":"))
    decode = "local t = cjson.decode(ARGV[1]) "
    with closing(MiniRedisClient.from_url(miniredis)) as r:
        assert r.execute_command("EVAL", decode + "return #t", "0", payload) == 3
        for i, want in ((1, "a"), (3, "c"), (4, None)):
            assert r.execute_command("EVAL", decode + f"return t[{i}]", "0", payload) == want
        escaped = json.dumps(["sa-spark-é"])  # ensure_ascii: é travels as \u00e9
        assert "\\u00e9" in escaped
        got = r.execute_command("EVAL", decode + "return t[1]", "0", escaped)
        assert got == json.loads(escaped)[0] == "sa-spark-é"


@pytest.mark.parametrize("payload", ['{"a":"b"}', '[["a"]]', '["a",1]', "[true]", '["a",null]',
                                     '["a"', ""])
def test_cjson_decode_refuses_all_but_an_array_of_strings(miniredis, payload):
    """An object, a nested array, a number, ``true`` or ``null`` element,
    and malformed JSON are each an error reply naming lua-sim, and the
    connection still serves."""
    with closing(MiniRedisClient.from_url(miniredis)) as r:
        with pytest.raises(ResponseError, match="lua-sim"):
            r.execute_command("EVAL", "return cjson.decode(ARGV[1])", "0", payload)
        assert r.ping()


def test_emitted_python_is_not_steered_by_literals_or_names(miniredis):
    """The compiler emits Python, so nothing in a script may reach it
    as code: a string literal holding Python source, quotes and
    backslashes comes back as Lua reads it; locals named like Python
    keywords, builtins or the compiler's own names behave as Lua
    locals; and a local declared inside an ``if`` block is out of
    scope after its ``end``, so reading it there is an undefined
    global."""
    with closing(MiniRedisClient.from_url(miniredis)) as r:
        # Lua: \\ is one backslash and \' a quote; the rest is verbatim
        src = """return '"); __import__("os") #\\\\ \\' )' """
        assert r.execute_command("EVAL", src, "0") == """"); __import__("os") #\\ ' )"""
        names = ("local None = tonumber(ARGV[1]) local class = None + 1 local len = class * 2 "
                 "local G = len + None local _ix = G * 10 local __import__ = _ix + 1 "
                 "return __import__")
        assert r.execute_command("EVAL", names, "0", "2") == 81  # 2, 3, 6, 8, 80, 81
        with pytest.raises(ResponseError, match="lua-sim: undefined x"):
            r.execute_command("EVAL", "if 1 == 1 then local x = 5 end return x", "0")
        shadow = "local x = 1 if 1 == 1 then local x = x + 5 end return x"
        assert r.execute_command("EVAL", shadow, "0") == 1
        assert r.ping()


def test_each_script_is_compiled_once(monkeypatch):
    """The server keeps a script compiled by SHA: the store's SCRIPT
    LOAD tokenises the apply script once, no apply_batch does it again,
    and a repeated EVAL compiles its script on the first call only."""
    from steaminganalysis_spark.backends import luasim

    calls = []
    tokenize = luasim._tokenize
    monkeypatch.setattr(luasim, "_tokenize", lambda src: calls.append(src) or tokenize(src))
    store = KVStore()
    for bid in range(3):
        assert store.apply_batch(bid, [("d", "total", 1)], MARKER)
    assert len(calls) == 1
    assert store.hgetall("d") == {"total": 3}
    for _ in range(2):
        assert store._r.execute_command("EVAL", "return 1", "0") == 1
    assert len(calls) == 2


def test_lua_eval_truncates_fractional_number_replies(miniredis):
    """Redis truncates ANY Lua number to an integer in the EVAL reply."""
    with closing(MiniRedisClient.from_url(miniredis)) as r:
        assert r.execute_command("EVAL", "return tonumber(ARGV[1])", "0", "7.9") == 7


def test_lua_number_arguments_and_replies_match_redis(miniredis):
    """A Lua number passed to ``redis.call`` arrives as its decimal
    text, so an integral double is an integer and a fraction is not;
    an integer reply comes back as a Lua double."""
    incr = "return redis.call('HINCRBY', KEYS[1], 'f', tonumber(ARGV[1]) + 1)"
    with closing(MiniRedisClient.from_url(miniredis)) as r:
        assert r.execute_command("EVAL", incr, "1", "h", "4") == 5
        with pytest.raises(ResponseError, match="not an integer"):
            r.execute_command("EVAL", incr, "1", "h", "0.5")
        assert r.hgetall("h") == {"f": "5"}
        big = "return redis.call('HINCRBY', KEYS[1], 'g', ARGV[1])"
        assert r.execute_command("EVAL", big, "1", "h", str(2**53 + 1)) == 2**53
        assert r.hgetall("h") == {"f": "5", "g": str(2**53 + 1)}


_INT64_MAX = str(2**63 - 1)

# name: (set-up commands, command, Redis's error reply or None, hash "h" after)
_CASES = {
    "incr-2^53+1-exact": (
        [], ["HINCRBY", "h", "f", str(2**53 + 1)], None, {"f": str(2**53 + 1)}
    ),
    "incr-fraction-rejected": (
        [], ["HINCRBY", "h", "f", "1.5"], "ERR value is not an integer or out of range", {}
    ),
    "incr-int64-overflow": (
        [["HINCRBY", "h", "f", _INT64_MAX]],
        ["HINCRBY", "h", "f", "1"],
        "ERR increment or decrement would overflow",
        {"f": _INT64_MAX},
    ),
    "get-on-hash-wrongtype": (
        [["HINCRBY", "h", "f", "1"]],
        ["GET", "h"],
        "WRONGTYPE Operation against a key holding the wrong kind of value",
        {"f": "1"},
    ),
}


def _over_wire(r, cmd):
    return r.execute_command(*cmd)


def _inside_eval(r, cmd):
    call = ", ".join(f"ARGV[{i}]" for i in range(1, len(cmd) + 1))
    return r.execute_command("EVAL", f"return redis.call({call})", "0", *cmd)


# path: (client for the test's server URL, how the command is sent)
_PATHS = {
    "wire": (MiniRedisClient.from_url, _over_wire),
    "eval": (MiniRedisClient.from_url, _inside_eval),
    "in-process": (lambda url: KVStore()._r, _over_wire),
}


@pytest.mark.parametrize("path", list(_PATHS))
@pytest.mark.parametrize("case", list(_CASES))
def test_command_behaves_as_redis_over_wire_and_inside_eval(miniredis, case, path):
    """One command implementation serves every path, with Redis's
    integer and type rules: over the wire, inside ``EVAL``, and through
    the in-process store's socketless client. The stored hash is
    compared rather than a successful reply: a script sees an integer
    reply as a Lua double, as in Redis."""
    setup, cmd, error, after = _CASES[case]
    connect, send = _PATHS[path]
    with closing(connect(miniredis)) as r:
        for c in setup:
            r.execute_command(*c)
        if error is None:
            send(r, cmd)
        else:
            with pytest.raises(ResponseError) as e:
                send(r, cmd)
            assert str(e.value).startswith(error)
        assert r.hgetall("h") == after
