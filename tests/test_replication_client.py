"""Live-source parity: the pure-stdlib logical-replication client
(`cdc/replication_client.py`) driven against a scripted fake Postgres
speaking the real v3 wire protocol over a real TCP socket. The frames
the fake server streams are produced by this repo's own pgoutput
ENCODERS, so the test closes the loop: encode → wire (XLogData/CopyBoth
framing, MD5 auth, keepalive/ack) → client dump → parquet → Spark
decode → applied state."""

from __future__ import annotations

import datetime as dt
import hashlib
import socket
import struct
import threading

import pytest

from python_cdc_spark.cdc.pgoutput import (
    encode_delete,
    encode_insert,
    encode_relation,
    encode_update,
)
from python_cdc_spark.cdc.replication_client import (
    PG_EPOCH_OFFSET_US,
    LogicalReplicationClient,
    ReplicationError,
    lsn_str,
    parse_lsn,
)

USERS_COLS = ["id", "name", "status"]


def _msg(mtype: bytes, payload: bytes = b"") -> bytes:
    return mtype + struct.pack(">i", len(payload) + 4) + payload


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def _xlogdata(lsn: int, frame: bytes) -> bytes:
    send_us = 1_700_000_000_000_000 - PG_EPOCH_OFFSET_US
    return _msg(b"d", b"w" + struct.pack(">QQQ", lsn, lsn, send_us) + frame)


def _datarow(*vals: str) -> bytes:
    body = struct.pack(">h", len(vals))
    for v in vals:
        b = v.encode()
        body += struct.pack(">i", len(b)) + b
    return _msg(b"D", body)


class FakePG(threading.Thread):
    """Scripted backend: MD5 auth, IDENTIFY_SYSTEM, slot creation (and
    the duplicate-slot error), then a CopyBoth stream of pgoutput frames
    with a reply-requested keepalive in the middle."""

    def __init__(self, frames: list[tuple[int, bytes]], password: str):
        super().__init__(daemon=True)
        self.frames = frames
        self.password = password
        self.srv = socket.create_server(("127.0.0.1", 0))
        self.port = self.srv.getsockname()[1]
        self.seen: dict = {}
        self.error: str | None = None

    # -- helpers ----------------------------------------------------------

    def _recv_exact(self, c: socket.socket, n: int) -> bytes:
        out = b""
        while len(out) < n:
            chunk = c.recv(n - len(out))
            if not chunk:
                raise ConnectionError("client closed")
            out += chunk
        return out

    def _read_typed(self, c: socket.socket) -> tuple[bytes, bytes]:
        t = self._recv_exact(c, 1)
        (ln,) = struct.unpack(">i", self._recv_exact(c, 4))
        return t, self._recv_exact(c, ln - 4)

    def _ready(self, c: socket.socket) -> None:
        c.sendall(_msg(b"Z", b"I"))

    # -- the script -------------------------------------------------------

    def run(self) -> None:  # pragma: no cover - assertions re-raised in test
        try:
            self._run()
        except Exception as e:  # surface thread failures to the test
            self.error = f"{type(e).__name__}: {e}"

    def _run(self) -> None:
        c, _ = self.srv.accept()
        c.settimeout(30)
        # startup: untyped message (len + proto + params)
        (ln,) = struct.unpack(">i", self._recv_exact(c, 4))
        payload = self._recv_exact(c, ln - 4)
        (proto,) = struct.unpack(">i", payload[:4])
        assert proto == 196608
        kv = payload[4:].split(b"\x00")
        params = dict(zip(kv[0::2], kv[1::2]))
        self.seen["startup"] = {k.decode(): v.decode() for k, v in params.items() if k}
        assert self.seen["startup"].get("replication") == "database"
        user = self.seen["startup"]["user"]

        # MD5 auth round-trip
        salt = b"\x01\x02\x03\x04"
        c.sendall(_msg(b"R", struct.pack(">i", 5) + salt))
        t, pw_payload = self._read_typed(c)
        assert t == b"p"
        inner = hashlib.md5((self.password + user).encode()).hexdigest()
        expect = "md5" + hashlib.md5(inner.encode() + salt).hexdigest()
        assert pw_payload.rstrip(b"\x00").decode() == expect, "md5 digest mismatch"
        c.sendall(_msg(b"R", struct.pack(">i", 0)))
        c.sendall(_msg(b"S", _cstr("server_version") + _cstr("16.0")))
        self._ready(c)

        slot_created = False
        while True:
            t, q = self._read_typed(c)
            if t != b"Q":
                continue
            sql = q.rstrip(b"\x00").decode()
            self.seen.setdefault("queries", []).append(sql)
            if sql == "IDENTIFY_SYSTEM":
                c.sendall(_datarow("7000", "1", "0/1000000", "testdb"))
                c.sendall(_msg(b"C", _cstr("IDENTIFY_SYSTEM")))
                self._ready(c)
            elif sql.startswith("CREATE_REPLICATION_SLOT"):
                if slot_created:
                    c.sendall(
                        _msg(
                            b"E",
                            b"S" + _cstr("ERROR") + b"C" + _cstr("42710")
                            + b"M" + _cstr("replication slot already exists")
                            + b"\x00",
                        )
                    )
                    self._ready(c)
                else:
                    slot_created = True
                    c.sendall(_datarow("cdc_slot", "0/1000000", "snap", "pgoutput"))
                    c.sendall(_msg(b"C", _cstr("CREATE_REPLICATION_SLOT")))
                    self._ready(c)
            elif sql.startswith("START_REPLICATION"):
                break
        # CopyBothResponse, then the stream
        c.sendall(_msg(b"W", struct.pack(">bh", 0, 0)))
        half = len(self.frames) // 2
        for lsn, frame in self.frames[:half]:
            c.sendall(_xlogdata(lsn, frame))
        # keepalive demanding a reply; client must report flushed lsn
        ka_ts = 1_700_000_000_000_000 - PG_EPOCH_OFFSET_US
        c.sendall(_msg(b"d", b"k" + struct.pack(">QQ", 0, ka_ts) + b"\x01"))
        t, status = self._read_typed(c)
        assert t == b"d" and status[:1] == b"r"
        written, flushed, applied, _ts, _rep = struct.unpack(">QQQQB", status[1:])
        self.seen["flushed_at_keepalive"] = flushed
        for lsn, frame in self.frames[half:]:
            c.sendall(_xlogdata(lsn, frame))
        c.sendall(_msg(b"c"))  # CopyDone
        c.sendall(_msg(b"C", _cstr("COPY 0")))
        self._ready(c)
        # drain trailing client messages (post-batch acks) until close
        c.settimeout(5)
        try:
            while c.recv(4096):
                pass
        except (TimeoutError, OSError):
            pass
        c.close()
        self.srv.close()


def _demo_frames() -> list[tuple[int, bytes]]:
    relid = 16385
    return [
        (10, encode_relation(relid, "public", "users", USERS_COLS)),
        (11, encode_insert(relid, ["1", "Ada", "active"])),
        (12, encode_insert(relid, ["2", "Lin", "active"])),
        (13, encode_update(relid, ["1", "Ada L", "inactive"], old_values=["1"], key_only=True)),
        (14, encode_delete(relid, ["2", None, None], key_only=True)),
    ]


def test_lsn_roundtrip():
    for v in (0, 1, 0x16B3748, (7 << 32) | 0xDEADBEEF):
        assert parse_lsn(lsn_str(v)) == v


def test_replication_client_socket_to_state(spark, tmp_path):
    """Full live path: MD5 auth → slot commands → CopyBoth stream →
    keepalive ack carries only the durable LSN → parquet dump → Spark decode
    → applied state equals the reference demo sequence's outcome."""
    import pyspark.sql.functions as SF

    from python_cdc_spark.cdc.apply import apply_changes
    from python_cdc_spark.cdc.pgoutput import decode_frames, relation_registry

    frames = _demo_frames()
    srv = FakePG(frames, password="sekret")
    srv.start()

    out_dir = str(tmp_path / "wire")
    with LogicalReplicationClient(
        "127.0.0.1", srv.port, "testdb", "cdc_user", "sekret"
    ) as client:
        ident = client.identify_system()
        assert ident["dbname"] == "testdb" and ident["xlogpos"] == parse_lsn("0/1000000")
        assert client.create_slot("cdc_slot")["slot"] == "cdc_slot"
        assert client.create_slot("cdc_slot") is None  # duplicate tolerated
        client.start_replication("cdc_slot", publication="cdc_publication")
        n = client.dump_parquet(out_dir, max_seconds=30)
    srv.join(timeout=30)
    assert srv.error is None, srv.error
    assert n == len(frames)
    # the mid-stream keepalive acks nothing: at the default batch_rows
    # no batch file is durable yet, so the first half is still in memory
    assert srv.seen["flushed_at_keepalive"] == 0
    # once dump_parquet returns, every frame is on disk and acked
    assert client.flushed_lsn == frames[-1][0]
    assert any(
        q.startswith("START_REPLICATION SLOT cdc_slot LOGICAL")
        and "publication_names 'cdc_publication'" in q
        for q in srv.seen["queries"]
    )

    # wire parquet → decode → apply: the state a reference user ends with
    feed = spark.read.parquet(out_dir)
    assert feed.count() == len(frames)
    reg = relation_registry(feed)
    assert reg[16385]["columns"] == USERS_COLS
    events = decode_frames(spark, feed, registry=reg).withColumn(
        "key", SF.coalesce(SF.col("new_values")["id"], SF.col("old_values")["id"])
    )
    state = apply_changes(events, "key")
    got = {r["key"]: dict(r["values"]) for r in state.collect()}
    assert got == {"1": {"id": "1", "name": "Ada L", "status": "inactive"}}


def test_live_capture_streaming_apply_with_health(spark, tmp_path):
    """The reference's whole main program, live: wire capture, streaming
    decode+apply, and the HTTP health endpoint all running AT THE SAME
    TIME. The client dumps small parquet batches while the fake server
    streams; Spark tails the directory as a stream and applies changes
    continuously; /health answers 200 while the query runs. Final state
    equals the demo sequence's outcome."""
    import time as _time
    import urllib.request

    import pyspark.sql.functions as SF

    from python_cdc_spark.cdc.monitor import HealthServer
    from python_cdc_spark.cdc.pgoutput import decode_frames, relation_registry
    from python_cdc_spark.streaming import StreamingApplyChanges

    frames = _demo_frames()
    srv = FakePG(frames, password="sekret")
    srv.start()
    wire = tmp_path / "wire"
    wire.mkdir()

    captured = {}

    def capture() -> None:
        with LogicalReplicationClient(
            "127.0.0.1", srv.port, "testdb", "cdc_user", "sekret"
        ) as client:
            client.create_slot("cdc_slot")
            client.start_replication("cdc_slot", publication="cdc_publication")
            # batch_rows=2 → several files appear over the stream's life
            captured["n"] = client.dump_parquet(
                str(wire), batch_rows=2, max_seconds=30
            )

    cap = threading.Thread(target=capture, daemon=True)
    cap.start()

    # wait for the first batch file (contains the Relation frame — it
    # always precedes its rows in a pgoutput stream)
    deadline = _time.monotonic() + 30
    while not list(wire.glob("*.parquet")) and _time.monotonic() < deadline:
        _time.sleep(0.1)
    assert list(wire.glob("*.parquet")), "no wire batches appeared"

    reg = relation_registry(spark.read.parquet(str(wire)))
    stream = spark.readStream.schema("lsn bigint, ts timestamp, frame binary").parquet(
        str(wire)
    )
    events = decode_frames(spark, stream, registry=reg).withColumn(
        "key", SF.coalesce(SF.col("new_values")["id"], SF.col("old_values")["id"])
    )
    applier = StreamingApplyChanges(spark, str(tmp_path / "state"), "key", n_buckets=4)
    q = applier.start(events, str(tmp_path / "ckpt"))
    try:
        with HealthServer(spark, q, port=0) as hs:
            with urllib.request.urlopen(
                f"http://127.0.0.1:{hs.port}/health", timeout=10
            ) as resp:
                assert resp.status == 200
            expected = {"1": {"id": "1", "name": "Ada L", "status": "inactive"}}
            deadline = _time.monotonic() + 60
            got: dict = {}
            while _time.monotonic() < deadline:
                got = {
                    r["key"]: dict(r["values"])
                    for r in applier.current_state().collect()
                }
                if got == expected:
                    break
                _time.sleep(0.5)
            assert got == expected, f"state never converged: {got}"
    finally:
        q.stop()
        q.awaitTermination(60)
    cap.join(timeout=30)
    srv.join(timeout=30)
    assert srv.error is None, srv.error
    assert captured["n"] == len(frames)


def test_scram_rfc7677_test_vector():
    """The SCRAM-SHA-256 exchange from RFC 7677 §3, verbatim: same
    nonce, salt, iteration count → the exact published client proof and
    server signature."""
    from python_cdc_spark.cdc.replication_client import ScramSha256Client

    c = ScramSha256Client(
        "pencil", username="user", nonce="rOprNGfwEbeRWgbNEkqO"
    )
    assert c.client_first() == b"n,,n=user,r=rOprNGfwEbeRWgbNEkqO"
    server_first = (
        b"r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        b"s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
    )
    final = c.client_final(server_first)
    assert final == (
        b"c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        b"p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ="
    )
    # valid server signature passes; a flipped one fails
    c.verify_server_final(b"v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")
    with pytest.raises(ReplicationError, match="server signature"):
        c.verify_server_final(b"v=7rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")


class _ScramFakeServer(threading.Thread):
    """Server side of the SCRAM exchange: verifies the client proof
    from first principles (PBKDF2 → StoredKey → ClientSignature →
    recovered ClientKey) and answers with the real server signature —
    a client that mis-derives anything fails here."""

    def __init__(self, password: str):
        super().__init__(daemon=True)
        self.password = password
        self.srv = socket.create_server(("127.0.0.1", 0))
        self.port = self.srv.getsockname()[1]
        self.error: str | None = None

    def run(self):
        try:
            self._run()
        except Exception as e:  # surface thread failures to the test
            self.error = f"{type(e).__name__}: {e}"

    def _run(self):
        import base64
        import hmac as hm
        import os as _os

        c, _ = self.srv.accept()
        c.settimeout(30)
        buf = b""

        def recv_exact(n):
            nonlocal buf
            while len(buf) < n:
                chunk = c.recv(65536)
                assert chunk, "client closed early"
                buf += chunk
            out, rest = buf[:n], buf[n:]
            buf = rest
            return out

        (ln,) = struct.unpack(">i", recv_exact(4))
        recv_exact(ln - 4)  # startup params
        # AuthenticationSASL advertising -PLUS first (client must pick
        # plain SCRAM-SHA-256: no TLS, no channel binding)
        c.sendall(
            _msg(
                b"R",
                struct.pack(">i", 10)
                + _cstr("SCRAM-SHA-256-PLUS")
                + _cstr("SCRAM-SHA-256")
                + b"\x00",
            )
        )
        t = recv_exact(1)
        assert t == b"p"
        (ln,) = struct.unpack(">i", recv_exact(4))
        payload = recv_exact(ln - 4)
        end = payload.index(b"\x00")
        assert payload[:end] == b"SCRAM-SHA-256"
        (rlen,) = struct.unpack(">i", payload[end + 1 : end + 5])
        client_first = payload[end + 5 : end + 5 + rlen].decode()
        assert client_first.startswith("n,,"), "gs2 must decline channel binding"
        bare = client_first[3:]
        client_nonce = dict(
            kv.split("=", 1) for kv in bare.split(",")
        )["r"]
        salt = _os.urandom(16)
        iters = 4096
        combined = client_nonce + "srvNONCE123"
        server_first = (
            f"r={combined},s={base64.b64encode(salt).decode()},i={iters}"
        )
        c.sendall(
            _msg(b"R", struct.pack(">i", 11) + server_first.encode())
        )
        t = recv_exact(1)
        assert t == b"p"
        (ln,) = struct.unpack(">i", recv_exact(4))
        client_final = recv_exact(ln - 4).decode()
        attrs = dict(kv.split("=", 1) for kv in client_final.split(","))
        assert attrs["c"] == "biws" and attrs["r"] == combined
        without_proof = client_final[: client_final.rindex(",p=")]
        auth_msg = ",".join([bare, server_first, without_proof]).encode()
        salted = hashlib.pbkdf2_hmac(
            "sha256", self.password.encode(), salt, iters
        )
        client_key = hm.new(salted, b"Client Key", hashlib.sha256).digest()
        stored = hashlib.sha256(client_key).digest()
        sig = hm.new(stored, auth_msg, hashlib.sha256).digest()
        proof = base64.b64decode(attrs["p"])
        recovered = bytes(a ^ b for a, b in zip(proof, sig))
        assert hashlib.sha256(recovered).digest() == stored, "bad client proof"
        server_key = hm.new(salted, b"Server Key", hashlib.sha256).digest()
        server_sig = hm.new(server_key, auth_msg, hashlib.sha256).digest()
        c.sendall(
            _msg(
                b"R",
                struct.pack(">i", 12)
                + b"v="
                + base64.b64encode(server_sig),
            )
        )
        c.sendall(_msg(b"R", struct.pack(">i", 0)))  # AuthenticationOk
        c.sendall(_msg(b"S", _cstr("server_version") + _cstr("16.0")))
        c.sendall(_msg(b"Z", b"I"))
        # one replication command proves the channel survived auth
        t = recv_exact(1)
        (ln,) = struct.unpack(">i", recv_exact(4))
        q = recv_exact(ln - 4)
        assert t == b"Q" and q.rstrip(b"\x00") == b"IDENTIFY_SYSTEM"
        c.sendall(_datarow("7000", "1", "0/1000000", "testdb"))
        c.sendall(_msg(b"C", _cstr("IDENTIFY_SYSTEM")))
        c.sendall(_msg(b"Z", b"I"))
        c.close()
        self.srv.close()


def test_replication_client_scram_handshake():
    """SCRAM-SHA-256 against a fake server that checks the proof from
    first principles, then a replication command on the authed
    connection (PG 14+ defaults to SCRAM — the r4 'what's missing'
    item)."""
    srv = _ScramFakeServer(password="s3cret")
    srv.start()
    client = LogicalReplicationClient(
        "127.0.0.1", srv.port, "db", "u", "s3cret"
    )
    client.connect()
    sysid = client.identify_system()
    client.close()
    srv.join(timeout=30)
    assert srv.error is None, srv.error
    assert sysid["xlogpos"] == parse_lsn("0/1000000")


def test_replication_client_scram_rejects_bad_server_signature():
    """A server that cannot produce the right signature (MITM without
    the password) must be rejected even after it accepts our proof, and
    an e= error attribute surfaces as a clear failure."""
    import base64

    from python_cdc_spark.cdc.replication_client import ScramSha256Client

    sc = ScramSha256Client("pw", nonce="clientNONCE")
    sc.client_final(b"r=clientNONCEsrv,s=AAAA,i=4096")
    with pytest.raises(ReplicationError, match="server signature"):
        sc.verify_server_final(b"v=" + base64.b64encode(b"x" * 32))
    sc2 = ScramSha256Client("pw", nonce="clientNONCE")
    sc2.client_final(b"r=clientNONCEsrv,s=AAAA,i=4096")
    with pytest.raises(ReplicationError, match="server error"):
        sc2.verify_server_final(b"e=other-error")


def test_replication_client_rejects_unknown_auth():
    """Unknown auth codes and SASL lists without a usable mechanism
    must fail with a clear message, not hang or mis-auth."""
    for payload in (
        struct.pack(">i", 7),  # GSSAPI — unsupported
        struct.pack(">i", 10) + _cstr("SCRAM-SHA-256-PLUS") + b"\x00",
    ):
        srv = socket.create_server(("127.0.0.1", 0))
        port = srv.getsockname()[1]

        def fake(payload=payload, srv=srv):
            c, _ = srv.accept()
            ln = struct.unpack(">i", c.recv(4))[0]
            c.recv(ln - 4)
            c.sendall(_msg(b"R", payload))
            c.close()
            srv.close()

        t = threading.Thread(target=fake, daemon=True)
        t.start()
        client = LogicalReplicationClient("127.0.0.1", port, "db", "u", "pw")
        with pytest.raises(ReplicationError, match="unsupported auth|mechanism"):
            client.connect()
        client.close()


def test_scram_rejects_nonce_truncation():
    """The server-first nonce must EXTEND the client nonce (RFC 5802);
    anything else is a replay/downgrade attempt."""
    from python_cdc_spark.cdc.replication_client import ScramSha256Client

    sc = ScramSha256Client("pw", nonce="abcdef")
    with pytest.raises(ReplicationError, match="nonce"):
        sc.client_final(b"r=XYZdef,s=AAAA,i=4096")


def _self_signed_cert(tmp_path):
    """Generate a self-signed cert + key (cryptography is in the
    container); returns (cert_pem_path, key_pem_path, cert_der)."""
    import datetime as _dt

    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography.x509.oid import NameOID

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, "127.0.0.1")])
    now = _dt.datetime.now(_dt.timezone.utc)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name)
        .issuer_name(name)
        .public_key(key.public_key())
        .serial_number(x509.random_serial_number())
        .not_valid_before(now - _dt.timedelta(days=1))
        .not_valid_after(now + _dt.timedelta(days=1))
        .sign(key, hashes.SHA256())
    )
    cert_p = tmp_path / "srv.crt"
    key_p = tmp_path / "srv.key"
    cert_p.write_bytes(cert.public_bytes(serialization.Encoding.PEM))
    key_p.write_bytes(
        key.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.TraditionalOpenSSL,
            serialization.NoEncryption(),
        )
    )
    return str(cert_p), str(key_p), cert.public_bytes(serialization.Encoding.DER)


def test_replication_client_tls_scram_plus_channel_binding(tmp_path):
    """sslmode=require: SSLRequest → TLS handshake → SCRAM-SHA-256-PLUS
    with RFC 5929 tls-server-end-point channel binding. The fake server
    advertises -PLUS, verifies the client proof from first principles
    INCLUDING the c= channel-binding input (gs2 p=... header + the hash
    of the very certificate it served), and the client verifies the
    server signature back — the full mutual, channel-bound exchange."""
    import base64
    import hashlib as hl
    import hmac as hm
    import ssl

    from python_cdc_spark.cdc.replication_client import tls_server_end_point

    cert_p, key_p, cert_der = _self_signed_cert(tmp_path)
    expected_cb = tls_server_end_point(cert_der)
    password = "tls-s3cret"
    srv = socket.create_server(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    err: list = []

    def run_server():
        try:
            c, _ = srv.accept()
            c.settimeout(30)
            # SSLRequest: 8-byte magic, answer 'S', then handshake
            req = b""
            while len(req) < 8:
                req += c.recv(8 - len(req))
            assert struct.unpack(">ii", req) == (8, 80877103)
            c.sendall(b"S")
            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
            ctx.load_cert_chain(cert_p, key_p)
            tc = ctx.wrap_socket(c, server_side=True)
            buf = b""

            def recv_exact(n):
                nonlocal buf
                while len(buf) < n:
                    chunk = tc.recv(65536)
                    assert chunk, "client closed early"
                    buf += chunk
                out, rest = buf[:n], buf[n:]
                buf = rest
                return out

            (ln,) = struct.unpack(">i", recv_exact(4))
            recv_exact(ln - 4)  # startup
            tc.sendall(
                _msg(
                    b"R",
                    struct.pack(">i", 10)
                    + _cstr("SCRAM-SHA-256-PLUS")
                    + _cstr("SCRAM-SHA-256")
                    + b"\x00",
                )
            )
            t = recv_exact(1)
            assert t == b"p"
            (ln,) = struct.unpack(">i", recv_exact(4))
            payload = recv_exact(ln - 4)
            end = payload.index(b"\x00")
            assert payload[:end] == b"SCRAM-SHA-256-PLUS", "client must pick -PLUS"
            (rlen,) = struct.unpack(">i", payload[end + 1 : end + 5])
            client_first = payload[end + 5 : end + 5 + rlen].decode()
            assert client_first.startswith("p=tls-server-end-point,,")
            bare = client_first[len("p=tls-server-end-point,,"):]
            client_nonce = dict(kv.split("=", 1) for kv in bare.split(","))["r"]
            salt = b"\x10" * 16
            combined = client_nonce + "SRV"
            server_first = f"r={combined},s={base64.b64encode(salt).decode()},i=4096"
            tc.sendall(_msg(b"R", struct.pack(">i", 11) + server_first.encode()))
            t = recv_exact(1)
            assert t == b"p"
            (ln,) = struct.unpack(">i", recv_exact(4))
            client_final = recv_exact(ln - 4).decode()
            attrs = dict(kv.split("=", 1) for kv in client_final.split(","))
            # the channel-binding input must be gs2 header + OUR cert hash
            want_c = base64.b64encode(
                b"p=tls-server-end-point,," + expected_cb
            ).decode()
            assert attrs["c"] == want_c, "channel binding mismatch"
            without_proof = client_final[: client_final.rindex(",p=")]
            auth_msg = ",".join([bare, server_first, without_proof]).encode()
            salted = hl.pbkdf2_hmac("sha256", password.encode(), salt, 4096)
            client_key = hm.new(salted, b"Client Key", hl.sha256).digest()
            stored = hl.sha256(client_key).digest()
            sig = hm.new(stored, auth_msg, hl.sha256).digest()
            proof = base64.b64decode(attrs["p"])
            recovered = bytes(a ^ b for a, b in zip(proof, sig))
            assert hl.sha256(recovered).digest() == stored, "bad client proof"
            server_key = hm.new(salted, b"Server Key", hl.sha256).digest()
            server_sig = hm.new(server_key, auth_msg, hl.sha256).digest()
            tc.sendall(
                _msg(b"R", struct.pack(">i", 12) + b"v=" + base64.b64encode(server_sig))
            )
            tc.sendall(_msg(b"R", struct.pack(">i", 0)))
            tc.sendall(_msg(b"S", _cstr("server_version") + _cstr("16.0")))
            tc.sendall(_msg(b"Z", b"I"))
            # one replication command over the encrypted channel
            t = recv_exact(1)
            (ln,) = struct.unpack(">i", recv_exact(4))
            q = recv_exact(ln - 4)
            assert t == b"Q" and q.rstrip(b"\x00") == b"IDENTIFY_SYSTEM"
            body = struct.pack(">h", 4)
            for v in ("7000", "1", "0/1000000", "testdb"):
                b = v.encode()
                body += struct.pack(">i", len(b)) + b
            tc.sendall(_msg(b"D", body))
            tc.sendall(_msg(b"C", _cstr("IDENTIFY_SYSTEM")))
            tc.sendall(_msg(b"Z", b"I"))
            tc.close()
        except Exception as e:
            err.append(f"{type(e).__name__}: {e}")
        finally:
            srv.close()

    t = threading.Thread(target=run_server, daemon=True)
    t.start()
    client = LogicalReplicationClient(
        "127.0.0.1", port, "db", "u", password, sslmode="require"
    )
    client.connect()
    sysid = client.identify_system()
    client.close()
    t.join(timeout=30)
    assert not err, err
    assert sysid["xlogpos"] == parse_lsn("0/1000000")


def test_replication_client_tls_refused_errors_cleanly():
    """sslmode=require against a server answering 'N' must fail with a
    clear error, not proceed in cleartext (the downgrade trap)."""
    srv = socket.create_server(("127.0.0.1", 0))
    port = srv.getsockname()[1]

    def fake():
        c, _ = srv.accept()
        c.recv(8)
        c.sendall(b"N")
        c.close()
        srv.close()

    threading.Thread(target=fake, daemon=True).start()
    client = LogicalReplicationClient(
        "127.0.0.1", port, "db", "u", "pw", sslmode="require"
    )
    with pytest.raises(ReplicationError, match="refused TLS"):
        client.connect()
    client.close()
