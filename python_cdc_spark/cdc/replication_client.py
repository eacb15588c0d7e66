"""Live logical-replication source: a pure-stdlib PostgreSQL client.

The reference consumes `pgoutput` over a psycopg2 logical-replication
connection (`/root/reference/utils/postgre_cdc_consumer.py:32-45,68-110`:
connect with ``connection_factory=LogicalReplicationConnection``, create
the slot, ``start_replication(... plugin='pgoutput' ...)``, then a
``consume_stream`` loop that feeds each ``msg.payload`` to the parser
and acks ``msg.data_start``). This container has no psycopg2 and no
Postgres, but the wire protocol is public and small, so this module
implements the frontend side directly on a TCP socket:

- startup + auth (trust / cleartext / MD5 / SCRAM-SHA-256 — the
  PostgreSQL 14+ default; RFC 5802/7677 client implemented below with
  server-signature verification), optional TLS (``sslmode="require"``:
  SSLRequest + handshake before the startup packet, libpq-style
  encrypt-without-verify unless a verifying ``ssl_context`` is passed),
  and SCRAM-SHA-256-PLUS with RFC 5929 tls-server-end-point channel
  binding whenever the server offers it on a TLS connection,
- ``CREATE_REPLICATION_SLOT``/``START_REPLICATION`` simple queries,
- the CopyBoth stream: XLogData ('w') payloads are RAW pgoutput frames
  — exactly what ``cdc/pgoutput.py`` decodes — and keepalives ('k')
  are answered with Standby Status Update ('r') messages carrying the
  flushed LSN, which is what advances the slot on the server (the
  reference acks via ``send_feedback``; same protocol message).

The bridge to Spark is ``dump_parquet``: micro-batches of
``(lsn, ts, frame)`` rows appended as parquet files that the streaming
pipeline tails (``spark.readStream.schema("lsn bigint, ts timestamp,
frame binary")`` → ``decode_frames`` → ``StreamingApplyChanges`` — see
tests/test_pgoutput.py::test_full_wire_to_state_streaming_pipeline).
The client itself is deliberately driver-side and single-connection:
replication is a serial protocol (one slot, one stream, in-LSN-order);
SCALE comes from Spark fanning the decoded frames out, not from here.

Message formats follow the public PostgreSQL documentation
(protocol.sgml: "Frontend/Backend Protocol", "Streaming Replication
Protocol", "Logical Streaming Replication Protocol").
"""

from __future__ import annotations

import base64
import datetime as _dt
import hashlib
import hmac
import os
import socket
import struct
import time
from typing import Any, Callable, Iterator

from python_cdc_spark import fsops

#: microseconds between the PostgreSQL epoch (2000-01-01) and the Unix
#: epoch — XLogData/keepalive timestamps are PG-epoch micros
PG_EPOCH_OFFSET_US = 946_684_800_000_000


def _cstr(s: str) -> bytes:
    return s.encode("utf-8") + b"\x00"


def lsn_str(lsn: int) -> str:
    """Format an LSN the way Postgres prints them (e.g. '0/16B3748')."""
    return f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"


def parse_lsn(s: str) -> int:
    hi, lo = s.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def tls_server_end_point(cert_der: bytes) -> bytes:
    """RFC 5929 tls-server-end-point channel-binding data: hash of the
    server certificate using its signature hash algorithm, with
    MD5/SHA-1 upgraded to SHA-256. Parsing the signature algorithm
    needs the ``cryptography`` package; without it we assume SHA-256 —
    correct for effectively every certificate issued this decade."""
    algo = "sha256"
    try:
        from cryptography import x509

        cert = x509.load_der_x509_certificate(cert_der)
        h = cert.signature_hash_algorithm
        if h is not None and h.name not in ("md5", "sha1"):
            algo = h.name
    except ImportError:
        pass
    return hashlib.new(algo, cert_der).digest()


class ScramSha256Client:
    """Client side of SCRAM-SHA-256 and SCRAM-SHA-256-PLUS (RFC 5802
    framing, RFC 7677 hash, RFC 5929 tls-server-end-point channel
    binding; PostgreSQL SASL exchange per protocol.sgml "SASL
    Authentication").

    ``cbind_data`` selects the variant: None → plain SCRAM-SHA-256 with
    a ``n,,`` (or ``y,,`` — caller's downgrade-detection choice) gs2
    header; the server-certificate hash → -PLUS with
    ``p=tls-server-end-point,,`` and the cbind-input
    ``base64(gs2 || cert_hash)``. The username inside the SCRAM message
    is empty for PostgreSQL — the server takes the identity from the
    startup packet — but is parameterized so the RFC 7677 test vector
    can drive this class verbatim. Passwords are used as UTF-8 without
    SASLprep normalization (stdlib has no stringprep tables; ASCII
    passwords — the overwhelmingly common case — are unaffected,
    matching what the server stores for them).
    """

    MECHANISM = "SCRAM-SHA-256"
    MECHANISM_PLUS = "SCRAM-SHA-256-PLUS"

    def __init__(
        self,
        password: str,
        username: str = "",
        nonce: str | None = None,
        cbind_data: bytes | None = None,
        gs2_header: str | None = None,
    ):
        self.password = password
        self.client_nonce = nonce or base64.b64encode(os.urandom(18)).decode()
        self.cbind_data = cbind_data
        if gs2_header is not None:
            self.gs2_header = gs2_header
        else:
            self.gs2_header = (
                "p=tls-server-end-point,," if cbind_data is not None else "n,,"
            )
        self.client_first_bare = f"n={username},r={self.client_nonce}"
        self._auth_message: bytes | None = None
        self._server_key: bytes | None = None

    def client_first(self) -> bytes:
        return (self.gs2_header + self.client_first_bare).encode()

    @staticmethod
    def _attrs(msg: str) -> dict[str, str]:
        return dict(kv.split("=", 1) for kv in msg.split(","))

    def client_final(self, server_first: bytes) -> bytes:
        sf = server_first.decode()
        attrs = self._attrs(sf)
        combined, iters = attrs["r"], int(attrs["i"])
        if not combined.startswith(self.client_nonce):
            raise ReplicationError(
                {"M": "SCRAM server nonce does not extend the client nonce"}
            )
        salted = hashlib.pbkdf2_hmac(
            "sha256", self.password.encode(), base64.b64decode(attrs["s"]), iters
        )
        client_key = hmac.new(salted, b"Client Key", hashlib.sha256).digest()
        stored_key = hashlib.sha256(client_key).digest()
        self._server_key = hmac.new(salted, b"Server Key", hashlib.sha256).digest()
        cbind_input = self.gs2_header.encode() + (self.cbind_data or b"")
        cbind = base64.b64encode(cbind_input).decode()  # "biws" when n,,
        without_proof = f"c={cbind},r={combined}"
        self._auth_message = ",".join(
            [self.client_first_bare, sf, without_proof]
        ).encode()
        sig = hmac.new(stored_key, self._auth_message, hashlib.sha256).digest()
        proof = bytes(a ^ b for a, b in zip(client_key, sig))
        return f"{without_proof},p={base64.b64encode(proof).decode()}".encode()

    def verify_server_final(self, server_final: bytes) -> None:
        """Mutual auth: the server proves it holds ServerKey. A client
        that skips this check will happily hand its proof to a
        man-in-the-middle that never knew the password."""
        attrs = self._attrs(server_final.decode())
        if "e" in attrs:
            raise ReplicationError({"M": f"SCRAM server error: {attrs['e']}"})
        assert self._server_key is not None and self._auth_message is not None
        expect = hmac.new(
            self._server_key, self._auth_message, hashlib.sha256
        ).digest()
        if not hmac.compare_digest(base64.b64decode(attrs["v"]), expect):
            raise ReplicationError(
                {"M": "SCRAM server signature verification failed"}
            )


class ReplicationError(RuntimeError):
    """Server ErrorResponse, with the severity/code/message fields."""

    def __init__(self, fields: dict[str, str]) -> None:
        self.fields = fields
        super().__init__(
            f"{fields.get('S', 'ERROR')} {fields.get('C', '')}: {fields.get('M', '')}"
        )


class LogicalReplicationClient:
    """Minimal frontend for ``START_REPLICATION ... LOGICAL`` streams.

    Usage::

        with LogicalReplicationClient(host, port, dbname, user, pw) as c:
            c.create_slot("cdc_slot")          # idempotent-ish helper
            c.start_replication("cdc_slot", publication="cdc_publication")
            for lsn, ts, frame in c.frames():  # raw pgoutput payloads
                ...  # persist, then c.flushed_lsn = lsn to ack it
            # or: c.dump_parquet(out_dir, max_frames=..., max_seconds=...)
    """

    def __init__(
        self,
        host: str,
        port: int,
        dbname: str,
        user: str,
        password: str | None = None,
        connect_timeout: float = 10.0,
        sslmode: str = "disable",
        ssl_context=None,
    ) -> None:
        """``sslmode``: "disable" (plain TCP) or "require" — send an
        SSLRequest and TLS-wrap the socket before the startup packet
        (hosted PostgreSQL mandates this). Like libpq's ``require``,
        the default context ENCRYPTS but does not verify the server
        certificate chain/hostname; pass ``ssl_context`` (an
        ``ssl.SSLContext``) for verify-ca/verify-full behavior. On TLS
        the client prefers SCRAM-SHA-256-PLUS with RFC 5929
        tls-server-end-point channel binding when the server offers it,
        and signals channel-binding support (gs2 ``y,,``) when it
        doesn't — so a MITM stripping -PLUS is detected server-side."""
        self.host, self.port = host, port
        self.dbname, self.user, self.password = dbname, user, password
        self.connect_timeout = connect_timeout
        if sslmode not in ("disable", "require"):
            raise ValueError(f"sslmode must be disable|require, got {sslmode!r}")
        self.sslmode = sslmode
        self.ssl_context = ssl_context
        self._tls_cert_der: bytes | None = None
        self._sock: socket.socket | None = None
        self._buf = b""
        self.parameters: dict[str, str] = {}
        #: highest LSN fully written out by the consumer; reported to the
        #: server in standby status updates (= the reference's ack)
        self.flushed_lsn = 0

    # -- low-level I/O ----------------------------------------------------

    def _send(self, data: bytes) -> None:
        assert self._sock is not None
        self._sock.sendall(data)

    def _recv_exact(self, n: int) -> bytes:
        assert self._sock is not None
        while len(self._buf) < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise ConnectionError("server closed the connection")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_message(self) -> tuple[bytes, bytes]:
        """One backend message: (type byte, payload)."""
        mtype = self._recv_exact(1)
        (length,) = struct.unpack(">i", self._recv_exact(4))
        return mtype, self._recv_exact(length - 4)

    @staticmethod
    def _error_fields(payload: bytes) -> dict[str, str]:
        fields: dict[str, str] = {}
        pos = 0
        while pos < len(payload) and payload[pos] != 0:
            code = chr(payload[pos])
            end = payload.index(b"\x00", pos + 1)
            fields[code] = payload[pos + 1 : end].decode("utf-8", "replace")
            pos = end + 1
        return fields

    # -- connection + auth ------------------------------------------------

    def connect(self) -> None:
        self._sock = socket.create_connection(
            (self.host, self.port), timeout=self.connect_timeout
        )
        if self.sslmode == "require":
            self._start_tls()
        # StartupMessage: replication=database switches the connection
        # into the replication command set against a real database (the
        # mode logical replication requires)
        params = b"".join(
            _cstr(k) + _cstr(v)
            for k, v in [
                ("user", self.user),
                ("database", self.dbname),
                ("replication", "database"),
                ("application_name", "python_cdc_spark"),
            ]
        ) + b"\x00"
        body = struct.pack(">i", 196608) + params  # protocol 3.0
        self._send(struct.pack(">i", len(body) + 4) + body)
        self._auth_loop()

    def _start_tls(self) -> None:
        """SSLRequest (protocol.sgml): magic 80877103; server answers a
        single byte — 'S' proceed with the TLS handshake, 'N' refused."""
        import ssl

        assert self._sock is not None
        self._send(struct.pack(">ii", 8, 80877103))
        answer = self._recv_exact(1)
        if answer != b"S":
            raise ReplicationError(
                {"M": f"server refused TLS (answered {answer!r}) but "
                      "sslmode=require"}
            )
        if self.ssl_context is not None:
            ctx = self.ssl_context
        else:
            # libpq sslmode=require semantics: encrypt, don't verify
            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
        self._sock = ctx.wrap_socket(self._sock, server_hostname=self.host)
        self._tls_cert_der = self._sock.getpeercert(binary_form=True)

    def _auth_loop(self) -> None:
        while True:
            mtype, payload = self._read_message()
            if mtype == b"E":
                raise ReplicationError(self._error_fields(payload))
            if mtype == b"R":
                (code,) = struct.unpack(">i", payload[:4])
                if code == 0:  # AuthenticationOk
                    continue
                if code == 3:  # cleartext
                    if self.password is None:
                        raise ReplicationError({"M": "password required"})
                    pw = _cstr(self.password)
                    self._send(b"p" + struct.pack(">i", len(pw) + 4) + pw)
                    continue
                if code == 5:  # MD5: md5( md5(password+user) + salt )
                    if self.password is None:
                        raise ReplicationError({"M": "password required"})
                    salt = payload[4:8]
                    inner = hashlib.md5(
                        self.password.encode() + self.user.encode()
                    ).hexdigest()
                    digest = "md5" + hashlib.md5(inner.encode() + salt).hexdigest()
                    pw = _cstr(digest)
                    self._send(b"p" + struct.pack(">i", len(pw) + 4) + pw)
                    continue
                if code == 10:  # AuthenticationSASL: mechanism list
                    if self.password is None:
                        raise ReplicationError({"M": "password required"})
                    names = [
                        m.decode()
                        for m in payload[4:].split(b"\x00")
                        if m
                    ]
                    on_tls = self._tls_cert_der is not None
                    if on_tls and ScramSha256Client.MECHANISM_PLUS in names:
                        # channel binding: tie the SCRAM proof to THIS
                        # TLS session's server certificate
                        mech = ScramSha256Client.MECHANISM_PLUS
                        self._scram = ScramSha256Client(
                            self.password,
                            cbind_data=tls_server_end_point(self._tls_cert_der),
                        )
                    elif ScramSha256Client.MECHANISM in names:
                        mech = ScramSha256Client.MECHANISM
                        # on TLS advertise we COULD bind (gs2 "y,,") so a
                        # stripped -PLUS offer is detected server-side
                        self._scram = ScramSha256Client(
                            self.password,
                            gs2_header="y,," if on_tls else "n,,",
                        )
                    else:
                        raise ReplicationError(
                            {"M": f"no supported SASL mechanism in {names} "
                                  "(SCRAM-SHA-256[-PLUS] only; -PLUS needs TLS)"}
                        )
                    first = self._scram.client_first()
                    body = (
                        _cstr(mech) + struct.pack(">i", len(first)) + first
                    )
                    self._send(b"p" + struct.pack(">i", len(body) + 4) + body)
                    continue
                if code == 11:  # AuthenticationSASLContinue: server-first
                    final = self._scram.client_final(payload[4:])
                    self._send(
                        b"p" + struct.pack(">i", len(final) + 4) + final
                    )
                    continue
                if code == 12:  # AuthenticationSASLFinal: verify v=
                    self._scram.verify_server_final(payload[4:])
                    continue
                raise ReplicationError(
                    {"M": f"unsupported auth method {code}"}
                )
            elif mtype == b"S":  # ParameterStatus
                end = payload.index(b"\x00")
                key = payload[:end].decode()
                val = payload[end + 1 : payload.index(b"\x00", end + 1)].decode()
                self.parameters[key] = val
            elif mtype == b"K":  # BackendKeyData — irrelevant here
                pass
            elif mtype == b"Z":  # ReadyForQuery
                return
            else:  # NoticeResponse etc.
                pass

    # -- replication commands ---------------------------------------------

    def _simple_query(self, sql: str) -> list[tuple]:
        """Run a replication-command query; collect DataRow tuples."""
        q = _cstr(sql)
        self._send(b"Q" + struct.pack(">i", len(q) + 4) + q)
        rows: list[tuple] = []
        while True:
            mtype, payload = self._read_message()
            if mtype == b"E":
                # drain to ReadyForQuery so the connection stays usable
                fields = self._error_fields(payload)
                while self._read_message()[0] != b"Z":
                    pass
                raise ReplicationError(fields)
            if mtype == b"D":
                (ncols,) = struct.unpack(">h", payload[:2])
                pos, vals = 2, []
                for _ in range(ncols):
                    (ln,) = struct.unpack(">i", payload[pos : pos + 4])
                    pos += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        vals.append(payload[pos : pos + ln].decode("utf-8"))
                        pos += ln
                rows.append(tuple(vals))
            elif mtype == b"Z":
                return rows
            # 'T' RowDescription / 'C' CommandComplete / notices: skip

    def identify_system(self) -> dict[str, Any]:
        rows = self._simple_query("IDENTIFY_SYSTEM")
        sysid, timeline, xlogpos, dbname = rows[0]
        return {
            "systemid": sysid,
            "timeline": int(timeline),
            "xlogpos": parse_lsn(xlogpos),
            "dbname": dbname,
        }

    def create_slot(self, slot: str) -> dict[str, Any] | None:
        """CREATE_REPLICATION_SLOT ... LOGICAL pgoutput. Returns None if
        the slot already exists (the reference's try/except-and-continue,
        postgre_cdc_consumer.py:47-58)."""
        try:
            rows = self._simple_query(
                f"CREATE_REPLICATION_SLOT {slot} LOGICAL pgoutput"
            )
        except ReplicationError as e:
            if e.fields.get("C") == "42710":  # duplicate_object
                return None
            raise
        name, lsn, snapshot, plugin = rows[0]
        return {"slot": name, "consistent_point": parse_lsn(lsn)}

    def start_replication(
        self,
        slot: str,
        publication: str,
        start_lsn: int = 0,
        proto_version: int = 1,
    ) -> None:
        """Enter the CopyBoth stream. After this, use frames()/dump_*."""
        sql = (
            f"START_REPLICATION SLOT {slot} LOGICAL {lsn_str(start_lsn)} "
            f"(proto_version '{proto_version}', "
            f"publication_names '{publication}')"
        )
        q = _cstr(sql)
        self._send(b"Q" + struct.pack(">i", len(q) + 4) + q)
        while True:
            mtype, payload = self._read_message()
            if mtype == b"E":
                raise ReplicationError(self._error_fields(payload))
            if mtype == b"W":  # CopyBothResponse — streaming begins
                return

    # -- the stream -------------------------------------------------------

    def _standby_status(self, reply_requested: bool = False) -> None:
        now_us = int(time.time() * 1_000_000) - PG_EPOCH_OFFSET_US
        body = b"r" + struct.pack(
            ">QQQQB",
            self.flushed_lsn,  # written
            self.flushed_lsn,  # flushed — this advances the slot
            self.flushed_lsn,  # applied
            now_us,
            1 if reply_requested else 0,
        )
        self._send(b"d" + struct.pack(">i", len(body) + 4) + body)

    def frames(
        self,
        max_seconds: float | None = None,
        status_interval: float = 10.0,
    ) -> Iterator[tuple[int, _dt.datetime, bytes]]:
        """Yield (lsn, server_send_time, raw pgoutput frame) until the
        server ends the copy (CopyDone) or ``max_seconds`` elapses.
        Keepalives are answered inline; a status update also goes out
        every ``status_interval`` seconds (the reference's
        status_interval=10, postgre_cdc_consumer.py:83). Receiving a
        frame does not ack it: the status reports ``flushed_lsn``,
        which only the consumer advances once its copy is durable."""
        deadline = None if max_seconds is None else time.monotonic() + max_seconds
        last_status = time.monotonic()
        while True:
            if deadline is not None and time.monotonic() >= deadline:
                return
            if time.monotonic() - last_status >= status_interval:
                self._standby_status()
                last_status = time.monotonic()
            mtype, payload = self._read_message()
            if mtype == b"E":
                raise ReplicationError(self._error_fields(payload))
            if mtype == b"c":  # CopyDone: stream over
                return
            if mtype != b"d":  # CommandComplete/ReadyForQuery after 'c'
                continue
            kind = payload[:1]
            if kind == b"w":  # XLogData
                start, _end, send_us = struct.unpack(">QQQ", payload[1:25])
                frame = payload[25:]
                ts = _dt.datetime.fromtimestamp(
                    (send_us + PG_EPOCH_OFFSET_US) / 1e6, tz=_dt.timezone.utc
                )
                yield start, ts, frame
            elif kind == b"k":  # keepalive
                _wal_end, _ts = struct.unpack(">QQ", payload[1:17])
                if payload[17:18] == b"\x01":
                    self._standby_status(reply_requested=False)
                    last_status = time.monotonic()

    def dump_parquet(
        self,
        out_dir: str,
        batch_rows: int = 10_000,
        max_frames: int | None = None,
        max_seconds: float | None = None,
        on_batch: Callable[[str, int], None] | None = None,
    ) -> int:
        """Consume the stream into ``(lsn, ts, frame)`` parquet files —
        the exact schema the Spark streaming pipeline tails. Each batch
        becomes one immutable file (streaming file sources require
        files to appear atomically: write temp, rename). The flushed
        LSN is only advanced-to-server AFTER a batch file is durable,
        so a crash between receive and write replays those frames
        instead of losing them (at-least-once, like the reference's
        post-processing ack)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(out_dir, exist_ok=True)
        schema = pa.schema(
            [
                ("lsn", pa.int64()),
                ("ts", pa.timestamp("us", tz="UTC")),
                ("frame", pa.binary()),
            ]
        )
        total, batch_no = 0, 0
        lsns: list[int] = []
        tss: list[_dt.datetime] = []
        frames_: list[bytes] = []

        def flush() -> None:
            nonlocal batch_no, lsns, tss, frames_
            if not lsns:
                return
            tbl = pa.table(
                {"lsn": lsns, "ts": tss, "frame": frames_}, schema=schema
            )
            final = os.path.join(out_dir, f"batch-{batch_no:06d}.parquet")
            tmp = final + ".tmp"
            pq.write_table(tbl, tmp)
            fsops.durable_replace(tmp, final)
            # durable on disk → safe to ack
            self.flushed_lsn = max(self.flushed_lsn, max(lsns))
            if on_batch is not None:
                on_batch(final, len(lsns))
            batch_no += 1
            lsns, tss, frames_ = [], [], []
            self._standby_status()

        for lsn, ts, frame in self.frames(max_seconds=max_seconds):
            lsns.append(lsn)
            tss.append(ts)
            frames_.append(frame)
            total += 1
            if len(lsns) >= batch_rows:
                flush()
            if max_frames is not None and total >= max_frames:
                break
        flush()
        return total

    # -- lifecycle --------------------------------------------------------

    def close(self) -> None:
        if self._sock is not None:
            try:
                self._sock.close()
            finally:
                self._sock = None

    def __enter__(self) -> "LogicalReplicationClient":
        self.connect()
        return self

    def __exit__(self, *exc: Any) -> None:
        self.close()
