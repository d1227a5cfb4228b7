"""Loopback integration test for the authenticated HTTP façade
(SURVEY §2 T7): handshake, encrypted AQL commands, paged SEARCH via
cursor statements, and rejection paths."""

import json

import pytest

pytest.importorskip("cryptography")

from tytodb_spark.server import TytoClient, TytoServer, _hash, load_or_create_keys


@pytest.fixture()
def server(spark, tmp_path):
    from tytodb_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    srv = TytoServer(eng, str(tmp_path / "keys.b64")).start()
    yield srv
    srv.stop()


def _client(server, tmp_path=None):
    host, port = server.address
    key = next(iter(server._keys.values()))
    return TytoClient(host, port, key)


def test_handshake_and_crud_roundtrip(server):
    c = _client(server)
    r = c.execute(
        "CREATE CONTAINER 'users' [id, name, score] [INT, SMALL-STRING, FLOAT]"
    )
    assert r["success"] == 1
    for i in range(3):
        r = c.execute(f"CREATE ROW [id, name, score] [{i}, 'u{i}', {i}.5] ON 'users'")
        assert r["success"] == 1
    c.execute("COMMIT 'users'")
    r = c.execute("SEARCH ON 'users' WHERE id >= 1")
    assert r["success"] == 1
    rows = {row["id"]: row for row in r["content"]["rows"]}
    assert set(rows) == {1, 2} and rows[2]["score"] == 2.5
    assert r["content"]["query_id"]  # cursor handle, as in the reference
    c.close()


def test_cursor_paging_over_wire(server):
    c = _client(server)
    c.execute("CREATE CONTAINER 'n' [id] [INT]")
    for i in range(150):
        c.execute(f"CREATE ROW [id] [{i}] ON 'n'")
    c.execute("COMMIT")
    r = c.execute("SEARCH ON 'n'")
    qid = r["content"]["query_id"]
    assert len(r["content"]["rows"]) == 100  # PAGE_SIZE
    r2 = c.execute(f"QYCNNXT '{qid}'")
    assert len(r2["content"]["rows"]) == 50
    c.execute(f"QYCNEXT '{qid}'")
    c.close()


def test_bad_key_handshake_rejected(server):
    import http.client

    host, port = server.address
    conn = http.client.HTTPConnection(host, port, timeout=10)
    conn.request("GET", "/", body=_hash(b"\x00" * 32))
    assert conn.getresponse().read() == b"\x00"
    conn.close()


def test_unknown_session_and_garbage_rejected(server):
    import http.client

    host, port = server.address
    conn = http.client.HTTPConnection(host, port, timeout=10)
    # unknown session hash + garbage ciphertext → zero-length frame
    conn.request("POST", "/", body=b"\x01" * 64)
    assert conn.getresponse().read() == (0).to_bytes(8, "big")
    conn.close()


def test_command_error_is_payload_not_500(server):
    c = _client(server)
    r = c.execute("SEARCH ON 'missing_container'")
    assert r["success"] == 0 and r["content"]["message"]
    c.close()


def test_keys_persist_across_restarts(tmp_path):
    p = str(tmp_path / "k.b64")
    first = load_or_create_keys(p)
    again = load_or_create_keys(p)
    assert first == again and len(first[0]) == 32


def test_undecryptable_payload_known_session_gets_zero_frame(server):
    """Garbage ciphertext under a KNOWN session hash must answer
    u64_be(0) (the documented protocol), not an encrypted error frame —
    a tamperer must learn nothing beyond 'no'."""
    import http.client

    c = _client(server)  # registers the session
    host, port = server.address
    conn = http.client.HTTPConnection(host, port, timeout=10)
    conn.request("POST", "/", body=c._session_hash + b"\xde\xad\xbe\xef" * 8)
    assert conn.getresponse().read() == (0).to_bytes(8, "big")
    conn.close()
    c.close()


def test_key_file_created_0600(tmp_path):
    import os
    import stat

    p = str(tmp_path / "perm.b64")
    load_or_create_keys(p)
    mode = stat.S_IMODE(os.stat(p).st_mode)
    assert mode == 0o600


def test_session_cap_rejects_eleventh(spark, tmp_path):
    """Reference caps concurrent sessions at 10 (src/database.rs:23):
    the 11th DISTINCT key's handshake answers 0x00; re-handshaking an
    existing session stays allowed."""
    from tytodb_spark.engine import Engine
    from tytodb_spark.server import TytoClient

    eng = Engine(spark, str(tmp_path / "wh"))
    srv = TytoServer(eng, str(tmp_path / "keys.b64"), max_sessions=10)
    # grow the keyring to 12 distinct keys
    import base64
    import secrets

    extra = [secrets.token_bytes(32) for _ in range(8)]
    with open(str(tmp_path / "keys.b64"), "a") as f:
        for k in extra:
            f.write(base64.b64encode(k).decode() + "\n")
    srv._keys.update({_hash(k): k for k in extra})
    srv.start()
    try:
        host, port = srv.address
        keys = list(srv._keys.values())
        assert len(keys) == 12
        clients = [TytoClient(host, port, k) for k in keys[:10]]
        # 11th distinct key → refused like an unknown key
        import http.client

        conn = http.client.HTTPConnection(host, port, timeout=10)
        conn.request("GET", "/", body=_hash(keys[10]))
        assert conn.getresponse().read() == b"\x00"
        conn.close()
        # an already-registered key can re-handshake (same session slot)
        again = TytoClient(host, port, keys[0])
        again.close()
        for c in clients:
            c.close()
    finally:
        srv.stop()


def test_round_trip_has_no_nagle_stall(server):
    """A reply is written as headers then body; with Nagle on, the body
    waits for the client's delayed ACK (~40 ms a statement). A statement
    that runs no Spark job must come back in a fraction of that."""
    import socket
    import statistics
    import time

    c = _client(server)
    assert c._conn.sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)
    c.execute("CREATE CONTAINER 'n' [id] [INT]")
    times = []
    for _ in range(20):
        t = time.perf_counter()
        assert c.execute("ROLLBACK 'n'")["success"] == 1
        times.append((time.perf_counter() - t) * 1e3)
    c.close()
    assert statistics.median(times) < 20, times
