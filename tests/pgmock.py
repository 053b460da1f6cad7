"""In-process mock PostgreSQL backend for pgwire tests.

Speaks just enough of the public v3 frontend/backend protocol to
exercise the client: startup, trust/cleartext/md5/SCRAM-SHA-256 auth,
simple Query, and the COPY-IN subprotocol.  Records every SQL
statement and every COPY payload so tests can assert byte-level
parity with the DataFrames that were delivered.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import os
import socket
import struct
import threading


def _msg(kind: bytes, payload: bytes = b"") -> bytes:
    return kind + struct.pack(">i", len(payload) + 4) + payload


def _name(ident: str) -> str:
    """``schema.table`` of a possibly double-quoted qualified name, as
    the server resolves it: quotes dropped, doubled quotes undone."""
    import re
    return re.sub(r'"((?:[^"]|"")*)"',
                  lambda m: m.group(1).replace('""', '"'), ident)


def _count_copy_rows(data: bytes) -> int:
    pos, n = 19, 0  # skip the 19-byte PGCOPY header
    while pos < len(data):
        (nf,) = struct.unpack_from(">h", data, pos)
        pos += 2
        if nf == -1:
            break
        for _ in range(nf):
            (ln,) = struct.unpack_from(">i", data, pos)
            pos += 4 + (ln if ln != -1 else 0)
        n += 1
    return n


class MockPg(threading.Thread):
    """Threaded mock server; one handler thread per connection (the
    client opens one connection per Spark partition)."""

    def __init__(self, auth: str = "trust", user: str = "osm",
                 password: str = "secret", fail_sql_containing: str = "boom",
                 fail_copy_once_containing: str = "",
                 tls_cert: str = "", tls_key: str = ""):
        super().__init__(daemon=True)
        self.auth = auth
        self.user = user
        self.password = password
        # TLS: when a cert/key pair is given, answer the SSLRequest
        # probe with 'S' and wrap the connection; otherwise 'N'
        self._tls_ctx = None
        if tls_cert:
            import ssl
            self._tls_ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
            self._tls_ctx.load_cert_chain(tls_cert, tls_key or None)
        self.tls_sessions = 0
        self.fail_marker = fail_sql_containing
        # kill the FIRST COPY whose target contains this marker
        # mid-stream (after data has arrived), like a server crash /
        # network drop during the transfer — the exactly-once tests'
        # failure injection
        self.fail_copy_marker = fail_copy_once_containing
        self._copy_fail_budget = 1 if fail_copy_once_containing else 0
        self.queries: list[str] = []
        self.copies: dict[str, bytes] = {}
        # exactly-once emulation state: delivery-ledger PK rows and
        # per-table promoted row counts
        self.ledger: set[tuple] = set()
        # sentinel/value store backing the exactly-once partition-
        # layout guard: ledger key -> rows value
        self.ledger_rows: dict[tuple, int] = {}
        self.startups: list[dict] = []
        self._lock = threading.Lock()
        self._srv = socket.create_server(("127.0.0.1", 0))
        self.port = self._srv.getsockname()[1]
        self._stop = threading.Event()

    # -- lifecycle ------------------------------------------------------

    def __enter__(self):
        self.start()
        return self

    def __exit__(self, *exc):
        self.shutdown()

    def shutdown(self):
        self._stop.set()
        try:
            self._srv.close()
        except OSError:
            pass

    def dsn(self) -> str:
        return (f"postgresql://{self.user}:{self.password}"
                f"@127.0.0.1:{self.port}/gis")

    def run(self):
        while not self._stop.is_set():
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            threading.Thread(target=self._handle, args=(conn,),
                             daemon=True).start()

    # -- protocol -------------------------------------------------------

    class _Reader:
        """Buffered exact-length reads (recv may over/under-shoot)."""

        def __init__(self, conn):
            self.conn = conn
            self.buf = b""

        def exact(self, n: int) -> bytes:
            while len(self.buf) < n:
                chunk = self.conn.recv(65536)
                if not chunk:
                    raise ConnectionError("client went away")
                self.buf += chunk
            out, self.buf = self.buf[:n], self.buf[n:]
            return out

        def msg(self) -> tuple[bytes, bytes]:
            head = self.exact(5)
            (ln,) = struct.unpack(">i", head[1:5])
            return head[:1], self.exact(ln - 4)

    def _err(self, conn, message: str, code: str = "XX000") -> None:
        fields = (b"SERROR\x00C" + code.encode() + b"\x00M" +
                  message.encode() + b"\x00\x00")
        conn.sendall(_msg(b"E", fields) + _msg(b"Z", b"I"))

    def _handle(self, conn: socket.socket) -> None:
        try:
            rd = self._Reader(conn)
            (ln, proto) = struct.unpack(">ii", rd.exact(8))
            if proto == 80877103:  # SSLRequest probe precedes startup
                if self._tls_ctx is None:
                    conn.sendall(b"N")
                else:
                    conn.sendall(b"S")
                    conn = self._tls_ctx.wrap_socket(conn,
                                                     server_side=True)
                    with self._lock:
                        self.tls_sessions += 1
                    rd = self._Reader(conn)
                (ln, proto) = struct.unpack(">ii", rd.exact(8))
            self._session(conn, rd, ln, proto)
        except (ConnectionError, OSError):
            pass
        finally:
            conn.close()

    def _session(self, conn, rd, ln, proto) -> None:
        body = rd.exact(ln - 8)
        assert proto == 196608, f"unexpected protocol {proto}"
        toks = [t.decode() for t in body.split(b"\x00") if t]
        params = dict(zip(toks[0::2], toks[1::2]))
        with self._lock:
            self.startups.append(params)
        if not self._auth(conn, rd, params):
            return
        conn.sendall(_msg(b"S", b"server_version\x0016.0-mock\x00") +
                     _msg(b"K", struct.pack(">ii", os.getpid(), 1234)) +
                     _msg(b"Z", b"I"))
        # per-connection transaction buffer: ledger/promote effects
        # issued between begin and commit apply atomically on commit
        # and vanish if the connection dies first (client crash =
        # rollback, as a real server would)
        txn = {"active": False, "pending": []}
        while True:
            kind, payload = rd.msg()
            if kind == b"X":
                return
            if kind != b"Q":
                self._err(conn, f"unexpected message {kind!r}")
                continue
            sql = payload.rstrip(b"\x00").decode()
            with self._lock:
                self.queries.append(sql)
            if self.fail_marker and self.fail_marker in sql:
                self._err(conn, f"mock failure for {sql!r}", "42601")
                continue
            up = sql.upper()
            low = sql.strip().lower()
            if low == "begin":
                txn["active"], txn["pending"] = True, []
            elif low == "commit":
                with self._lock:
                    for op, *args in txn["pending"]:
                        if op == "ledger":
                            self.ledger.add(args[0])
                        else:  # promote
                            tgt, data = args
                            self.copies[tgt] = (
                                self.copies.get(tgt, b"") + data)
                txn["active"], txn["pending"] = False, []
            elif low == "rollback":
                txn["active"], txn["pending"] = False, []
            if low in ("begin", "commit", "rollback"):
                tag = sql.split()[0].upper().encode() + b"\x00"
                conn.sendall(_msg(b"C", tag) + _msg(b"Z", b"I"))
                continue
            if up.startswith("COPY") and "FROM STDIN" in up:
                self._copy_in(conn, rd, sql)
            elif self._exactly_once_stmt(conn, sql, txn):
                pass  # handled (ledger insert / promote / drop staging)
            elif up.startswith("SELECT"):
                import re as _re
                m = _re.search(r"FROM pg_tables WHERE schemaname = "
                               r"'(\S+)' AND tablename LIKE '([^%]+)%'"
                               r"(?: ESCAPE '(.)')?", sql)
                rowdesc = (struct.pack(">h", 1) + b"mock\x00" +
                           struct.pack(">ihihih", 0, 0, 25, -1, -1, 0))
                if m:
                    # emulate the staging-sweep catalog query: list the
                    # staged COPY payload tables under the prefix
                    pat = m.group(2)
                    if m.group(3):  # unescape LIKE metacharacters
                        e = m.group(3)
                        out, i = [], 0
                        while i < len(pat):
                            if pat[i] == e and i + 1 < len(pat):
                                out.append(pat[i + 1]); i += 2
                            else:
                                out.append(pat[i]); i += 1
                        prefix = "".join(out)
                        def _like(name, pref=prefix):
                            return name.startswith(pref)
                    else:  # raw LIKE semantics: '_' is a wildcard
                        import fnmatch
                        def _like(name, p=pat):
                            rx = _re.escape(p).replace("_", ".") + ".*"
                            return _re.fullmatch(rx, name) is not None
                    with self._lock:
                        names = sorted(
                            k.split(".", 1)[1] for k in self.copies
                            if k.startswith(f"{m.group(1)}.")
                            and _like(k.split(".", 1)[1]))
                    rows = b"".join(
                        _msg(b"D", struct.pack(">h", 1)
                             + struct.pack(">i", len(n)) + n.encode())
                        for n in names)
                    conn.sendall(_msg(b"T", rowdesc) + rows +
                                 _msg(b"C", f"SELECT {len(names)}\x00"
                                      .encode()) + _msg(b"Z", b"I"))
                    continue
                # one fixed row so execute() row parsing is covered
                datarow = struct.pack(">h", 1) + struct.pack(">i", 2) + b"42"
                conn.sendall(_msg(b"T", rowdesc) + _msg(b"D", datarow) +
                             _msg(b"C", b"SELECT 1\x00") + _msg(b"Z", b"I"))
            else:
                tag = sql.split()[0].upper().encode() + b"\x00"
                conn.sendall(_msg(b"C", tag) + _msg(b"Z", b"I"))

    def _exactly_once_stmt(self, conn, sql: str, txn: dict) -> bool:
        """Emulate the three statements the exactly-once client issues
        beyond plain DDL: the ledger INSERT (PK-gated, 23505 on dup),
        the promote INSERT..SELECT (moves staged COPY bytes into the
        target), and DROP of a staging table.  Inside a transaction the
        ledger/promote effects are buffered into ``txn['pending']`` and
        applied on commit.  Returns True when the statement was handled
        (response already sent)."""
        import re
        m = re.match(r"INSERT INTO (\S+) VALUES \('([^']*)', '([^']*)',"
                     r" (-?\d+), (-?\d+)\)", sql)
        if m and "_pg_deliveries" in _name(m.group(1)):
            key = (m.group(2), m.group(3), int(m.group(4)))
            with self._lock:
                dup = key in self.ledger
            if dup:
                self._err(conn, "duplicate key value violates unique "
                          "constraint", "23505")
                return True
            if txn["active"]:
                txn["pending"].append(("ledger", key))
            else:
                with self._lock:
                    self.ledger.add(key)
                    self.ledger_rows[key] = int(m.group(5))
            conn.sendall(_msg(b"C", b"INSERT 0 1\x00") + _msg(b"Z", b"I"))
            return True
        m = re.match(r"SELECT rows FROM (\S+) WHERE target = '([^']*)' "
                     r"AND fingerprint = '([^']*)' AND part = (-?\d+)", sql)
        if m and "_pg_deliveries" in _name(m.group(1)):
            key = (m.group(2), m.group(3), int(m.group(4)))
            with self._lock:
                val = self.ledger_rows.get(key)
            rowdesc = (struct.pack(">h", 1) + b"rows\x00" +
                       struct.pack(">ihihih", 0, 0, 25, -1, -1, 0))
            if val is None:
                conn.sendall(_msg(b"T", rowdesc) +
                             _msg(b"C", b"SELECT 0\x00") + _msg(b"Z", b"I"))
            else:
                v = str(val).encode()
                conn.sendall(_msg(b"T", rowdesc) +
                             _msg(b"D", struct.pack(">h", 1) +
                                  struct.pack(">i", len(v)) + v) +
                             _msg(b"C", b"SELECT 1\x00") + _msg(b"Z", b"I"))
            return True
        m = re.match(r"INSERT INTO (\S+) SELECT \* FROM (\S+)", sql)
        if m:
            tgt, stg = _name(m.group(1)), _name(m.group(2))
            with self._lock:
                staged = self.copies.get(stg, b"")
            if txn["active"]:
                txn["pending"].append(("promote", tgt, staged))
            else:
                with self._lock:
                    self.copies[tgt] = self.copies.get(tgt, b"") + staged
            conn.sendall(_msg(b"C", b"INSERT 0 0\x00") + _msg(b"Z", b"I"))
            return True
        m = re.match(r"DROP TABLE (\S+)$", sql)
        if m and "__stg_" in m.group(1):
            with self._lock:
                self.copies.pop(_name(m.group(1)), None)
            conn.sendall(_msg(b"C", b"DROP TABLE\x00") + _msg(b"Z", b"I"))
            return True
        return False

    def _copy_in(self, conn, rd, sql: str) -> None:
        # table name: COPY schema.table (cols...) FROM STDIN ...
        table = _name(sql.split()[1].split("(")[0])
        conn.sendall(_msg(b"G", struct.pack(">bh", 1, 0)))
        chunks = []
        inject_fail = False
        if self.fail_copy_marker and self.fail_copy_marker in table:
            with self._lock:
                if self._copy_fail_budget > 0:
                    self._copy_fail_budget -= 1
                    inject_fail = True
        while True:
            kind, payload = rd.msg()
            if kind == b"d":
                if inject_fail:
                    # data is flowing: abort the COPY server-side, as a
                    # crash mid-transfer would — nothing is stored
                    self._err(conn, "mock mid-copy failure", "57P01")
                    return
                chunks.append(payload)
            elif kind == b"c":
                data = b"".join(chunks)
                with self._lock:
                    self.copies[table] = self.copies.get(table, b"") + data
                n = _count_copy_rows(data)
                conn.sendall(_msg(b"C", f"COPY {n}\x00".encode()) +
                             _msg(b"Z", b"I"))
                return
            elif kind == b"f":
                self._err(conn, "copy failed: " +
                          payload.rstrip(b"\x00").decode())
                return
            else:
                self._err(conn, f"unexpected in COPY: {kind!r}")
                return

    # -- auth modes -----------------------------------------------------

    def _auth(self, conn, rd, params: dict) -> bool:
        mode = self.auth
        if params.get("user") != self.user:
            self._err(conn, f"no such user {params.get('user')!r}", "28000")
            return False
        if mode == "trust":
            conn.sendall(_msg(b"R", struct.pack(">i", 0)))
            return True
        if mode == "cleartext":
            conn.sendall(_msg(b"R", struct.pack(">i", 3)))
            kind, payload = rd.msg()
            ok = (kind == b"p" and
                  payload.rstrip(b"\x00").decode() == self.password)
        elif mode == "md5":
            salt = b"\x01\x02\x03\x04"
            conn.sendall(_msg(b"R", struct.pack(">i", 5) + salt))
            kind, payload = rd.msg()
            inner = hashlib.md5(
                self.password.encode() + self.user.encode()).hexdigest()
            want = "md5" + hashlib.md5(inner.encode() + salt).hexdigest()
            ok = kind == b"p" and payload.rstrip(b"\x00").decode() == want
        elif mode == "scram":
            return self._auth_scram(conn, rd)
        else:
            raise AssertionError(f"unknown auth mode {mode}")
        if not ok:
            self._err(conn, "password authentication failed", "28P01")
            return False
        conn.sendall(_msg(b"R", struct.pack(">i", 0)))
        return True

    def _auth_scram(self, conn, rd) -> bool:
        conn.sendall(_msg(b"R", struct.pack(">i", 10) +
                          b"SCRAM-SHA-256\x00\x00"))
        kind, payload = rd.msg()
        assert kind == b"p"
        mech, restp = payload.split(b"\x00", 1)
        assert mech == b"SCRAM-SHA-256"
        (ln,) = struct.unpack(">i", restp[:4])
        client_first = restp[4:4 + ln].decode()
        bare = client_first.split(",", 2)[2]  # strip gs2 "n,,"
        cnonce = dict(p.split("=", 1) for p in bare.split(","))["r"]
        snonce = cnonce + base64.b64encode(os.urandom(9)).decode()
        salt, iters = os.urandom(16), 4096
        server_first = (f"r={snonce},s={base64.b64encode(salt).decode()},"
                        f"i={iters}")
        conn.sendall(_msg(b"R", struct.pack(">i", 11) +
                          server_first.encode()))
        kind, payload = rd.msg()
        assert kind == b"p"
        final = dict(p.split("=", 1)
                     for p in payload.rstrip(b"\x00").decode().split(","))
        salted = hashlib.pbkdf2_hmac("sha256", self.password.encode(),
                                     salt, iters)
        ckey = hmac.new(salted, b"Client Key", hashlib.sha256).digest()
        stored = hashlib.sha256(ckey).digest()
        auth_msg = (f"{bare},{server_first},"
                    f"c={final['c']},r={final['r']}").encode()
        csig = hmac.new(stored, auth_msg, hashlib.sha256).digest()
        want_key = bytes(a ^ b for a, b in
                         zip(base64.b64decode(final["p"]), csig))
        if (final["r"] != snonce or
                hashlib.sha256(want_key).digest() != stored):
            self._err(conn, "SCRAM authentication failed", "28P01")
            return False
        skey = hmac.new(salted, b"Server Key", hashlib.sha256).digest()
        ssig = hmac.new(skey, auth_msg, hashlib.sha256).digest()
        conn.sendall(_msg(b"R", struct.pack(">i", 12) + b"v=" +
                          base64.b64encode(ssig)) +
                     _msg(b"R", struct.pack(">i", 0)))
        return True
