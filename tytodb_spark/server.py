"""Authenticated HTTP façade over :class:`~tytodb_spark.engine.Engine` —
the wire surface every real user of the reference hits first
(src/database.rs:1249-1356 serves one HTTP/1 endpoint; session handshake
at src/database.rs:973-1005).

Protocol (re-specified from the reference's observable behavior, not a
code port; hash divergence documented below):

- **Handshake** (any non-POST request): body = 32-byte hash of a
  pre-shared secret key. If the hash names a registered key, a session
  is opened whose id IS that secret key (reference: session_id =
  secret_key, src/database.rs:988) and the response is
  ``0x01 || encrypt(session_id)`` under AES-256-GCM keyed by the secret;
  unknown keys get ``0x00`` (src/database.rs:978-984).
- **Command** (POST): body = 32-byte session-id hash ||
  ``encrypt(json {"command": str, "arguments": [...]})``. The engine
  executes the AQL command and the response is
  ``u64_be(len) || encrypt(json {"content": ..., "success": 0|1})``
  mirroring TytoDBResponse framing (src/database.rs:1145-1199). Unknown
  sessions / undecryptable payloads answer ``u64_be(0)``.
- Ciphertext layout: 12-byte random nonce || AES-GCM ct+tag (the
  reference stores a per-session Aes256Gcm cipher the same way).
- The reference hashes with blake3; this spec uses sha256 (stdlib) —
  a deliberate, documented divergence with identical structure.
- Concurrent distinct sessions are capped (default 10, matching the
  reference's connections_limit, src/database.rs:23); the N+1th
  handshake answers ``0x00``.

Secret keys persist next to the warehouse as base64 lines
(reference: YAML of base64 keys at secret_key_path(),
src/database.rs:1274-1320) and are generated on first start.

The Spark work happens in the engine; this layer is deliberately thin —
one in-process ThreadingHTTPServer, no framework.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import secrets
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

try:
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM
except ImportError:  # pragma: no cover - present in this container
    AESGCM = None

from tytodb_spark.engine import Engine

NONCE_LEN = 12


def _hash(b: bytes) -> bytes:
    return hashlib.sha256(b).digest()


def encrypt(key: bytes, plaintext: bytes) -> bytes:
    nonce = secrets.token_bytes(NONCE_LEN)
    return nonce + AESGCM(key).encrypt(nonce, plaintext, None)


def decrypt(key: bytes, payload: bytes) -> bytes:
    return AESGCM(key).decrypt(payload[:NONCE_LEN], payload[NONCE_LEN:], None)


def load_or_create_keys(path: str, count: int = 4) -> list[bytes]:
    """Pre-shared 32-byte secrets, persisted base64-per-line (the
    reference's secret-key file, src/database.rs:1274-1320)."""
    if os.path.exists(path):
        with open(path) as f:
            return [base64.b64decode(line.strip()) for line in f if line.strip()]
    keys = [secrets.token_bytes(32) for _ in range(count)]
    tmp = path + ".tmp"
    # 0o600 — the file holds live secrets; default umask would leave it
    # world-readable.
    fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o600)
    with os.fdopen(fd, "w") as f:
        for k in keys:
            f.write(base64.b64encode(k).decode() + "\n")
    os.rename(tmp, path)
    return keys


class TytoServer:
    """Loopback HTTP server bound to one Engine. start()/stop() for
    tests and embedding; serve_forever semantics via the stdlib."""

    def __init__(
        self,
        engine: Engine,
        key_path: str,
        host: str = "127.0.0.1",
        port: int = 0,
        max_sessions: int = 10,
    ):
        if AESGCM is None:
            raise NotImplementedError("server requires the cryptography package")
        self.engine = engine
        #: concurrent-session cap (reference: connections_limit = 10,
        #: src/database.rs:23); the N+1th distinct handshake is refused.
        self.max_sessions = max_sessions
        #: key-hash -> secret key (reference: Database.secret_keys)
        self._keys = {_hash(k): k for k in load_or_create_keys(key_path)}
        #: session-id-hash -> session key (reference: session_secret_rel)
        self._sessions: dict[bytes, bytes] = {}
        self._lock = threading.Lock()
        server = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            # A reply goes out as two writes (headers, then body); with
            # Nagle on, the body waits for the client's delayed ACK,
            # ~40 ms on every statement.
            disable_nagle_algorithm = True

            def _body(self) -> bytes:
                return self.rfile.read(int(self.headers.get("Content-Length", 0)))

            def _reply(self, payload: bytes) -> None:
                self.send_response(200)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def do_GET(self) -> None:  # handshake
                self._reply(server._handshake(self._body()))

            def do_POST(self) -> None:  # encrypted command
                self._reply(server._command(self._body()))

            def log_message(self, *a) -> None:  # quiet test output
                pass

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def address(self) -> tuple[str, int]:
        return self._httpd.server_address[:2]

    def start(self) -> "TytoServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    # -- protocol ---------------------------------------------------------
    def _handshake(self, key_hash: bytes) -> bytes:
        key = self._keys.get(key_hash)
        if key is None:
            return b"\x00"
        session_id = key  # reference: the session id IS the secret key
        with self._lock:
            sid = _hash(session_id)
            if sid not in self._sessions and len(self._sessions) >= self.max_sessions:
                return b"\x00"  # session cap: refuse like an unknown key
            self._sessions[sid] = key
        return b"\x01" + encrypt(key, session_id)

    def _command(self, payload: bytes) -> bytes:
        fail = (0).to_bytes(8, "big")
        if len(payload) < 32:
            return fail
        key = self._sessions.get(payload[:32])
        if key is None:
            return fail
        try:
            # Undecryptable payloads answer u64_be(0), exactly like an
            # unknown session — a tamperer learns nothing beyond "no"
            # (documented protocol; distinct from command errors below,
            # which prove possession of the key and get an encrypted
            # error payload).
            plaintext = decrypt(key, payload[32:])
        except Exception:
            return fail
        try:
            req = json.loads(plaintext)
            result = self.engine.execute(req["command"], req.get("arguments"))
            content = {
                "message": result.message,
                "query_id": result.query_id,
                "rows": _jsonable_rows(result),
            }
            body = json.dumps({"content": content, "success": 1 if result.ok else 0})
        except Exception as e:  # command errors are a payload, not a 500
            body = json.dumps({"content": {"message": str(e)}, "success": 0})
        enc = encrypt(key, body.encode())
        return len(enc).to_bytes(8, "big") + enc


def _jsonable_rows(result) -> list[dict] | None:
    if result.page is None:
        return None
    out = []
    for row in result.rows():
        out.append(
            {
                k: (base64.b64encode(v).decode() if isinstance(v, (bytes, bytearray)) else v)
                for k, v in row.items()
            }
        )
    return out


class TytoClient:
    """Minimal client: handshake once, then encrypted execute().
    ``http.client`` sets TCP_NODELAY on every socket it connects, and
    sends a request's headers and body in one write."""

    def __init__(self, host: str, port: int, secret_key: bytes):
        import http.client

        self._conn = http.client.HTTPConnection(host, port, timeout=30)
        self._key = secret_key
        self._conn.request("GET", "/", body=_hash(secret_key))
        resp = self._conn.getresponse().read()
        if not resp or resp[0] != 1:
            raise ConnectionError("handshake rejected")
        self._session_id = decrypt(secret_key, resp[1:])
        self._session_hash = _hash(self._session_id)

    def execute(self, command: str, arguments: list | None = None) -> dict:
        body = json.dumps({"command": command, "arguments": arguments or []})
        payload = self._session_hash + encrypt(self._key, body.encode())
        self._conn.request("POST", "/", body=payload)
        raw = self._conn.getresponse().read()
        size = int.from_bytes(raw[:8], "big")
        if size == 0:
            raise RuntimeError("server rejected the request")
        return json.loads(decrypt(self._key, raw[8 : 8 + size]))

    def close(self) -> None:
        self._conn.close()
