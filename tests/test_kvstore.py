"""RESP KV-cache contract (verdict r9 #8; reference redis.rs twin).

The same assertions run over every backend:

- ``TTLCache`` — the in-memory fake (reference ``memory_redis.rs`` role).
- ``RespKVCache`` against an IN-PROCESS RESP server fake — the REAL wire
  client code path, byte-for-byte the protocol a Redis/Valkey deployment
  speaks (only the server differs).
- ``RespKVCache`` against ``$GDP_REDIS_ADDR`` (``host:port``) — a live
  server; skipped when unset (this container runs none). The documented
  knob that closes the seam anywhere one exists.
"""

from __future__ import annotations

import os
import socket
import socketserver
import threading
import time

import pytest

from g_data_pipeline_spark.kvstore import (
    RespError,
    RespKVCache,
    encode_command,
    read_reply,
)
from g_data_pipeline_spark.storage import TTLCache

REDIS_ADDR = os.environ.get("GDP_REDIS_ADDR")


# ---------------------------------------------------------------------------
# In-process RESP server fake: GET/SET(PX)/DEL/GETDEL/EXISTS/KEYS/PING over
# real sockets, expiry by wall clock.
# ---------------------------------------------------------------------------


class _FakeRespHandler(socketserver.StreamRequestHandler):
    def handle(self):
        while True:
            try:
                cmd = read_reply(self.rfile)
            except (ConnectionError, ValueError):
                return
            if cmd is None:
                return
            args = [a.decode("utf-8") for a in cmd]
            self.wfile.write(self.server.dispatch(args))
            self.wfile.flush()


class FakeRespServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, support_getdel: bool = True):
        super().__init__(("127.0.0.1", 0), _FakeRespHandler)
        self.data: dict[str, tuple[bytes, float | None]] = {}
        self.lock = threading.Lock()
        self.support_getdel = support_getdel

    def _live(self, key: str) -> bytes | None:
        entry = self.data.get(key)
        if entry is None:
            return None
        value, deadline = entry
        if deadline is not None and time.time() >= deadline:
            del self.data[key]
            return None
        return value

    def dispatch(self, args: list[str]) -> bytes:
        op = args[0].upper()
        with self.lock:
            if op == "PING":
                return b"+PONG\r\n"
            if op == "SET":
                deadline = None
                if len(args) >= 5 and args[3].upper() == "PX":
                    deadline = time.time() + int(args[4]) / 1000.0
                self.data[args[1]] = (args[2].encode("utf-8"), deadline)
                return b"+OK\r\n"
            if op == "GET":
                v = self._live(args[1])
                return b"$-1\r\n" if v is None else b"$%d\r\n%s\r\n" % (len(v), v)
            if op == "GETDEL":
                if not self.support_getdel:
                    return b"-ERR unknown command 'GETDEL'\r\n"
                v = self._live(args[1])
                self.data.pop(args[1], None)
                return b"$-1\r\n" if v is None else b"$%d\r\n%s\r\n" % (len(v), v)
            if op == "DEL":
                n = sum(1 for k in args[1:] if self.data.pop(k, None))
                return b":%d\r\n" % n
            if op == "EXISTS":
                return b":%d\r\n" % (1 if self._live(args[1]) is not None else 0)
            if op == "KEYS":
                prefix = args[1].rstrip("*")
                keys = [
                    k.encode("utf-8")
                    for k in sorted(self.data)
                    if k.startswith(prefix) and self._live(k) is not None
                ]
                return b"*%d\r\n" % len(keys) + b"".join(
                    b"$%d\r\n%s\r\n" % (len(k), k) for k in keys
                )
            return b"-ERR unknown command '%s'\r\n" % op.encode()


def _serve(srv):
    # shutdown() waits for the serve loop's next poll: poll often so each
    # test's teardown does not sit out the 0.5 s default
    srv.serve_forever(poll_interval=0.01)


@pytest.fixture()
def resp_server():
    srv = FakeRespServer()
    t = threading.Thread(target=_serve, args=(srv,), daemon=True)
    t.start()
    yield srv
    srv.shutdown()
    srv.server_close()


# ---------------------------------------------------------------------------
# Shared contract
# ---------------------------------------------------------------------------

BACKENDS = ["memory", "resp-fake", "resp-live"]


@pytest.fixture(params=BACKENDS)
def cache(request, resp_server):
    if request.param == "memory":
        yield TTLCache(ttl_s=0.25)
        return
    if request.param == "resp-fake":
        c = RespKVCache(
            "127.0.0.1", resp_server.server_address[1], ttl_s=0.25
        )
        yield c
        c.close()
        return
    if REDIS_ADDR is None:
        pytest.skip("GDP_REDIS_ADDR not set (no live RESP server in env)")
    host, port = REDIS_ADDR.rsplit(":", 1)
    c = RespKVCache(host, int(port), ttl_s=0.25, prefix="gdp:test:")
    c.clear()
    yield c
    c.clear()
    c.close()


def test_put_get_roundtrip(cache):
    assert cache.get("job1") is None
    cache.put("job1", '{"rows": 5}')
    assert cache.get("job1") == '{"rows": 5}'
    cache.put("job1", "v2")  # last-writer-wins
    assert cache.get("job1") == "v2"
    assert "job1" in cache


def test_pop_removes(cache):
    cache.put("k", "v")
    assert cache.pop("k") == "v"
    assert cache.pop("k") is None
    assert cache.get("k") is None


def test_ttl_expiry_is_a_miss(cache):
    cache.put("exp", "soon")
    assert cache.get("exp") == "soon"
    time.sleep(0.3)
    assert cache.get("exp") is None  # recompute-on-miss path fires
    assert "exp" not in cache


def test_unicode_and_large_values(cache):
    big = "x" * 100_000 + "é≤漢"
    cache.put("big", big)
    assert cache.get("big") == big


# ---------------------------------------------------------------------------
# Wire-level specifics (RESP client only)
# ---------------------------------------------------------------------------


def test_resp_encode_and_parse_roundtrip():
    assert (
        encode_command("SET", "k", "v", "PX", "100")
        == b"*5\r\n$3\r\nSET\r\n$1\r\nk\r\n$1\r\nv\r\n$2\r\nPX\r\n$3\r\n100\r\n"
    )
    import io

    f = io.BufferedReader(io.BytesIO(b"*2\r\n$1\r\na\r\n$-1\r\n"))
    assert read_reply(f) == [b"a", None]


def test_ping_and_len(resp_server):
    c = RespKVCache("127.0.0.1", resp_server.server_address[1], ttl_s=60)
    assert c.ping()
    c.put("a", "1")
    c.put("b", "2")
    assert len(c) == 2
    c.clear()
    assert len(c) == 0
    c.close()


def test_getdel_fallback_on_old_server():
    """A pre-6.2 server (no GETDEL) still satisfies pop via GET+DEL."""
    srv = FakeRespServer(support_getdel=False)
    t = threading.Thread(target=_serve, args=(srv,), daemon=True)
    t.start()
    try:
        c = RespKVCache("127.0.0.1", srv.server_address[1], ttl_s=60)
        c.put("k", "v")
        assert c.pop("k") == "v"
        assert c.pop("k") is None
        assert not c._getdel_ok  # downgraded once, stays downgraded
        c.close()
    finally:
        srv.shutdown()
        srv.server_close()


def test_reconnect_after_server_drop(resp_server):
    """The client transparently reconnects once on a dead socket (the
    redis.rs pool-checkout behavior)."""
    c = RespKVCache("127.0.0.1", resp_server.server_address[1], ttl_s=60)
    c.put("k", "v")
    # kill the client's current connection server-side by closing our end
    c._sock.shutdown(socket.SHUT_RDWR)
    assert c.get("k") == "v"
    c.close()


def test_server_error_surfaces(resp_server):
    c = RespKVCache("127.0.0.1", resp_server.server_address[1], ttl_s=60)
    with pytest.raises(RespError, match="unknown command"):
        c.command("FLUSHMOON")
    c.close()
