"""Dump-protocol client tests against an in-process fake server.

The Spark analogue of the reference's mocked-connection suite
(`/root/reference/slave_conn_test.go:15-186`, `dump/packets_test.go`,
`dump/dsn_test.go`): a thread speaks HandshakeV10 + OK + a packetized
dump stream over a real socket; the client authenticates (the server
VERIFIES the mysql_native_password scramble), issues session commands and
COM_BINLOG_DUMP, and the received frames replay through the full decode
pipeline to exact generator parity.
"""

import socket
import struct
import threading

import pytest

from binlog_spark import genlog
from binlog_spark.sources import dump_protocol as D
from binlog_spark.wire import constants as C

SALT = bytes(range(1, 21))  # 20-byte scramble salt
USER, PASSWORD = "repl", "secret-pw"


def test_parse_dsn_full():
    cfg = D.parse_dsn("repl:s3cr%t@tcp(db.example:3307)/mydb?timeout=5s&tls=false")
    assert (cfg.user, cfg.password) == ("repl", "s3cr%t")
    assert (cfg.host, cfg.port, cfg.db) == ("db.example", 3307, "mydb")
    assert cfg.params == {"timeout": "5s", "tls": "false"}


def test_parse_dsn_minimal_and_invalid():
    cfg = D.parse_dsn("/")
    assert cfg.addr == "127.0.0.1:3306" and cfg.user == ""
    with pytest.raises(ValueError):
        D.parse_dsn("not a dsn")


def test_native_password_scramble_matches_protocol_definition():
    import hashlib
    token = D.native_password_scramble(PASSWORD, SALT)
    h1 = hashlib.sha1(PASSWORD.encode()).digest()
    expect = bytes(a ^ b for a, b in zip(
        h1, hashlib.sha1(SALT + hashlib.sha1(h1).digest()).digest()))
    assert token == expect and len(token) == 20
    assert D.native_password_scramble("", SALT) == b""


def _handshake_v10(salt: bytes = SALT) -> bytes:
    caps = (D.CLIENT_PROTOCOL_41 | D.CLIENT_SECURE_CONNECTION
            | D.CLIENT_PLUGIN_AUTH)
    out = bytearray()
    out += bytes([10]) + b"5.7.30-fake\x00"
    out += struct.pack("<I", 99)          # connection id
    out += salt[:8] + b"\x00"             # auth-plugin-data part 1 + filler
    out += struct.pack("<H", caps & 0xFFFF)
    out += bytes([33])                    # charset
    out += struct.pack("<H", 0x0002)      # status
    out += struct.pack("<H", caps >> 16)
    out += bytes([21])                    # auth data total length
    out += b"\x00" * 10
    out += salt[8:20] + b"\x00"           # part 2 (12 bytes) + NUL
    out += b"mysql_native_password\x00"
    return bytes(out)


def test_parse_handshake_roundtrip():
    hs = D.parse_handshake(_handshake_v10())
    assert hs.protocol_version == 10
    assert hs.server_version == "5.7.30-fake"
    assert hs.connection_id == 99
    assert hs.auth_data == SALT
    assert hs.auth_plugin == "mysql_native_password"


def test_parse_handshake_salt_with_trailing_nul_bytes():
    """A scramble salt legitimately ending in 0x00 must survive intact:
    only the single NUL terminator after part 2 is dropped (an rstrip
    would shorten the salt and break the scramble intermittently)."""
    salt = bytes(range(1, 19)) + b"\x00\x00"  # last two salt bytes are NUL
    hs = D.parse_handshake(_handshake_v10(salt))
    assert hs.auth_data == salt
    assert len(hs.auth_data) == 20


def test_com_binlog_dump_layout():
    pkt = D.make_com_binlog_dump(1234, 40961, "binlog.000007",
                                 flags=D.BINLOG_DUMP_NON_BLOCK)
    assert pkt[0] == 0x12
    pos, flags, sid = struct.unpack_from("<IHI", pkt, 1)
    assert (pos, flags, sid) == (40961, 1, 1234)
    assert pkt[11:] == b"binlog.000007"


def _coldef(name: str) -> bytes:
    """Minimal ColumnDefinition41: catalog, schema, table, org_table,
    name, org_name as lenenc strings + fixed tail."""
    out = b""
    for s in (b"def", b"", b"", b"", name.encode(), name.encode()):
        out += D.write_lenenc_str(s)
    out += bytes([0x0C]) + b"\x21\x00" + b"\x00" * 4 + b"\xfd" + b"\x00" * 5
    return out


def _result_packets(columns, rows):
    """Full text-protocol result set as a list of packet payloads."""
    pkts = [D.write_lenenc(len(columns))]
    pkts += [_coldef(c) for c in columns]
    pkts.append(b"\xfe\x00\x00\x02\x00")  # EOF
    for r in rows:
        pkts.append(b"".join(
            b"\xfb" if v is None else D.write_lenenc_str(str(v).encode())
            for v in r))
    pkts.append(b"\xfe\x00\x00\x02\x00")  # EOF
    return pkts


def _recv_exact(sock, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("connection closed mid-packet")
        buf += chunk
    return buf


class FakeDumpServer(threading.Thread):
    """Speaks just enough protocol: handshake, scramble-checked auth,
    OK or a canned result set for COM_QUERY, packetized frame stream +
    EOF for COM_BINLOG_DUMP. ``results`` maps an exact query string to
    (columns, rows); ``max_conns`` > 1 serves that many connections
    (each in a thread) — DescTableMapper opens one per executor."""

    def __init__(self, frames, results=None, max_conns=1, auth_switch=None,
                 ssl_ctx=None, refuse_queries=(), prepared=None):
        super().__init__(daemon=True)
        self.frames = frames
        self.results = results or {}
        # sql → (n_params, [execute-response packet payloads])
        self.prepared = prepared or {}
        self.seen_execute_params = []
        self.refuse_queries = set(refuse_queries)
        self.client_collation = None
        self.max_conns = max_conns
        self.auth_switch = auth_switch  # (plugin, new_salt_bytes) | "bare"
        self.ssl_ctx = ssl_ctx  # server-side SSLContext: offer CLIENT_SSL
        self.tls_used = False
        self.listener = socket.create_server(("127.0.0.1", 0))
        self.port = self.listener.getsockname()[1]
        self.seen_queries = []
        self.dump_request = None
        self.auth_ok = None
        self._lock = threading.Lock()

    def run(self):
        if self.max_conns == 1:
            conn, _ = self.listener.accept()
            self._serve(conn)
            return
        served = []
        for _ in range(self.max_conns):
            try:
                conn, _ = self.listener.accept()
            except OSError:
                break
            t = threading.Thread(target=self._serve, args=(conn,),
                                 daemon=True)
            t.start()
            served.append(t)
        for t in served:
            t.join(timeout=10)

    def stop(self):
        self.listener.close()

    def _serve(self, conn):
        try:
            self._serve_inner(conn)
        except (ConnectionError, OSError):
            pass  # client hung up (e.g. refused an auth switch)

    def _serve_inner(self, conn):
        wf = conn.makefile("wb")
        hs = _handshake_v10()
        if self.ssl_ctx is not None:
            # flip CLIENT_SSL on in the advertised capability low bytes
            hs = bytearray(hs)
            import struct as _s

            pos = 1 + hs[1:].index(0) + 1 + 4 + 8 + 1
            cap_low = _s.unpack_from("<H", hs, pos)[0] | D.CLIENT_SSL
            _s.pack_into("<H", hs, pos, cap_low)
            hs = bytes(hs)
        D._write_packet(wf, 0, hs)
        # the handshake response is read with no read-ahead: a client
        # that sends an SSLRequest sends its TLS ClientHello right after
        # it, and a buffered reader would swallow that before wrap_socket
        resp = _recv_exact(conn, int.from_bytes(_recv_exact(conn, 4)[:3],
                                                "little"))
        rf = conn.makefile("rb")
        if self.ssl_ctx is not None and len(resp) == 32:  # SSLRequest
            caps = int.from_bytes(resp[:4], "little")
            if caps & D.CLIENT_SSL:
                conn = self.ssl_ctx.wrap_socket(conn, server_side=True)
                rf, wf = conn.makefile("rb"), conn.makefile("wb")
                self.tls_used = True
                _, resp = D._read_packet(rf)
        # verify the client's scramble: user NUL-terminated after the
        # 32-byte fixed prefix, then 1-byte token length + token
        upos = 32
        self.client_collation = resp[8]
        zero = resp.index(b"\x00", upos)
        user = resp[upos:zero].decode()
        tlen = resp[zero + 1]
        token = resp[zero + 2 : zero + 2 + tlen]
        expect = D.native_password_scramble(PASSWORD, SALT)
        self.auth_ok = (user == USER and token == expect)
        if self.auth_switch is not None:
            # ask the client to re-authenticate with another method
            if self.auth_switch == "bare":
                D._write_packet(wf, 2, b"\xfe")
                plugin, salt = "mysql_old_password", SALT[:8]
            else:
                plugin, salt = self.auth_switch
                D._write_packet(
                    wf, 2, b"\xfe" + plugin.encode() + b"\x00" + salt
                    + b"\x00")
            _, token2 = D._read_packet(rf)
            if plugin == "mysql_old_password":
                want = D.old_password_scramble(PASSWORD, salt) + b"\x00"
            elif plugin == "mysql_clear_password":
                want = PASSWORD.encode() + b"\x00"
            else:
                want = D.native_password_scramble(PASSWORD, salt[:20])
            self.auth_ok = token2 == want
            if not self.auth_ok:
                D._write_packet(wf, 4, b"\xff\x15\x04#28000denied")
                return
            D._write_packet(wf, 4, b"\x00\x00\x00\x02\x00\x00\x00")
        elif not self.auth_ok:
            D._write_packet(wf, 2, b"\xff\x15\x04#28000denied")
            return
        else:
            D._write_packet(wf, 2, b"\x00\x00\x00\x02\x00\x00\x00")  # OK
        while True:
            try:
                _, cmd = D._read_packet(rf)
            except ConnectionError:
                return
            if cmd[0] == D.COM_QUERY:
                sql = cmd[1:].decode()
                with self._lock:
                    self.seen_queries.append(sql)
                if sql in self.refuse_queries:
                    D._write_packet(wf, 1, b"\xff\x93\x04#42000bad charset")
                elif sql in self.results:
                    cols, rows = self.results[sql]
                    for i, p in enumerate(_result_packets(cols, rows)):
                        D._write_packet(wf, i + 1, p)
                elif sql.startswith(("desc ", "show full columns from ")):
                    D._write_packet(wf, 1, b"\xff\x7a\x04#42S02no such table")
                else:
                    D._write_packet(wf, 1, b"\x00\x00\x00\x02\x00\x00\x00")
            elif cmd[0] == D.COM_STMT_PREPARE:
                sql = cmd[1:].decode()
                with self._lock:
                    self.seen_queries.append(sql)
                if sql not in self.prepared:
                    D._write_packet(wf, 1, b"\xff\x64\x04#42000no prep")
                    continue
                n_params, packets = self.prepared[sql]
                stmt_id = 1 + sorted(self.prepared).index(sql)
                self._stmts = getattr(self, "_stmts", {})
                self._stmts[stmt_id] = sql
                # header packet starts with the resultset column count
                ncols = packets[0][0] if packets else 0
                ok = b"\x00" + struct.pack("<IHH", stmt_id, ncols,
                                           n_params) + b"\x00\x00\x00"
                seq = 1
                D._write_packet(wf, seq, ok)
                for _ in range(n_params):
                    seq += 1
                    D._write_packet(wf, seq, _coldef("?"))
                if n_params:
                    seq += 1
                    D._write_packet(wf, seq, b"\xfe\x00\x00\x02\x00")
                for p in packets[1 : 1 + ncols]:  # column definitions
                    seq += 1
                    D._write_packet(wf, seq, p)
                if ncols:
                    seq += 1
                    D._write_packet(wf, seq, b"\xfe\x00\x00\x02\x00")
            elif cmd[0] == D.COM_STMT_EXECUTE:
                stmt_id = struct.unpack_from("<I", cmd, 1)[0]
                sql = getattr(self, "_stmts", {}).get(stmt_id)
                with self._lock:
                    self.seen_execute_params.append(cmd[10:])
                if sql is None:
                    D._write_packet(wf, 1, b"\xff\x64\x04#42000bad stmt")
                    continue
                _n, packets = self.prepared[sql]
                if not packets:
                    D._write_packet(wf, 1,
                                    b"\x00\x00\x00\x02\x00\x00\x00")
                    continue
                for i, p in enumerate(packets):
                    D._write_packet(wf, i + 1, p)
            elif cmd[0] == D.COM_STMT_CLOSE:
                with self._lock:
                    self.seen_queries.append(
                        f"<close stmt {struct.unpack_from('<I', cmd, 1)[0]}>")
                # no reply, per protocol
            elif cmd[0] == D.COM_BINLOG_DUMP:
                pos, flags, sid = struct.unpack_from("<IHI", cmd, 1)
                self.dump_request = (pos, flags, sid, cmd[11:].decode())
                seq = 1
                for fr in self.frames:
                    D._write_packet(wf, seq, b"\x00" + fr)
                    seq += 1
                D._write_packet(wf, seq, b"\xfe\x00\x00")  # EOF
                return


@pytest.fixture(scope="module")
def dump_world():
    # txns_per_file=25 with 60 txns forces two file rotations, so the
    # position-bookkeeping parity check below crosses ROTATE boundaries
    gen = genlog.CdcWorldGenerator(seed=11, n_repos=10, paths_per_repo=10,
                                   txns_per_file=25)
    return gen.generate(n_txns=60)


def test_live_dump_end_to_end(spark, dump_world, tmp_path):
    """connect → auth → session command → COM_BINLOG_DUMP → frames →
    position bookkeeping → full decode/merge → generator state parity."""
    from binlog_spark import pipeline
    from binlog_spark.operators.merge import LakeTable
    from binlog_spark.schema import FRAME_SCHEMA

    raw_frames = [fr for _, _, _, fr in dump_world.frames]
    server = FakeDumpServer(raw_frames)
    server.start()

    client = D.DumpClient(D.parse_dsn(
        f"{USER}:{PASSWORD}@tcp(127.0.0.1:{server.port})/"))
    hs = client.connect()
    assert hs.server_version == "5.7.30-fake"
    client.exec("SET @master_binlog_checksum= @@global.binlog_checksum")

    received = list(client.start_dump(server_id=777,
                                      filename="binlog.000000", offset=4))
    client.close()
    server.join(timeout=10)
    assert server.auth_ok is True
    assert server.seen_queries == [
        "SET @master_binlog_checksum= @@global.binlog_checksum"]
    assert server.dump_request == (4, 0, 777, "binlog.000000")
    assert received == raw_frames

    # P11 position bookkeeping reproduces the generator's (file, pos) —
    # including across ROTATE boundaries (the rotate frame itself records
    # at its own (old_file, pos), never colliding with the new file's
    # FORMAT_DESCRIPTION at (new_file, 4))
    rows = list(D.frames_with_positions(received, "binlog.000000"))
    got = [(f, p) for f, p, _et, _fr in rows]
    want = [(f, p) for f, p, _et, _fr in dump_world.frames]
    assert got == want
    rotates = [(f, p) for f, p, et, _fr in rows if et == C.E_ROTATE]
    assert len(rotates) == 2  # two file rotations in this world
    assert all(f != "binlog.000002" for f, _ in rotates)
    assert len(set(got)) == len(got)  # (file, pos) dedupe key is unique

    # full pipeline over the live-received frames → exact final state
    df = spark.createDataFrame(rows, FRAME_SCHEMA)
    lake = LakeTable.create(spark, str(tmp_path / "lake_live"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    pipeline.replay_batch(spark, df, lake, genlog.table_registry(),
                          batch_id=0)
    got_state = {(r["repo"], r["path"]): r["content"]
                 for r in lake.to_df().collect()}
    want_state = {k: v["content"] for k, v in dump_world.final_state.items()}
    assert got_state == want_state


def _switch_connect(auth_switch, dsn_params=""):
    server = FakeDumpServer([], auth_switch=auth_switch)
    server.start()
    client = D.DumpClient(D.parse_dsn(
        f"{USER}:{PASSWORD}@tcp(127.0.0.1:{server.port})/{dsn_params}"))
    try:
        client.connect()
    finally:
        client.close()
        server.join(timeout=10)
    return server


def test_auth_switch_old_password_full_and_bare():
    salt = bytes(range(40, 48))
    s = _switch_connect(("mysql_old_password", salt),
                        "?allowOldPasswords=1")
    assert s.auth_ok is True
    s = _switch_connect("bare", "?allowOldPasswords=1")
    assert s.auth_ok is True


def test_auth_switch_cleartext_and_native_resalt():
    s = _switch_connect(("mysql_clear_password", b""),
                        "?allowCleartextPasswords=1")
    assert s.auth_ok is True
    new_salt = bytes(range(100, 120))
    s = _switch_connect(("mysql_native_password", new_salt))
    assert s.auth_ok is True


def test_auth_switch_gated_by_dsn_params():
    with pytest.raises(ConnectionError, match="allowOldPasswords"):
        _switch_connect(("mysql_old_password", bytes(8)))
    with pytest.raises(ConnectionError, match="allowCleartextPasswords"):
        _switch_connect(("mysql_clear_password", b""))


def _collation_connect(dsn_params="", refuse=()):
    server = FakeDumpServer([], refuse_queries=refuse)
    server.start()
    client = D.DumpClient(D.parse_dsn(
        f"{USER}:{PASSWORD}@tcp(127.0.0.1:{server.port})/{dsn_params}"))
    try:
        client.connect()
    finally:
        client.close()
        server.join(timeout=10)
    return server


def test_dsn_collation_sets_handshake_byte():
    # default (no param) = utf8_general_ci id 33, reference parity
    assert _collation_connect().client_collation == 33
    s = _collation_connect("?collation=latin1_swedish_ci")
    assert s.client_collation == 8
    assert s.auth_ok is True


def test_unknown_dsn_collation_refused_client_side():
    server = FakeDumpServer([])
    server.start()
    client = D.DumpClient(D.parse_dsn(
        f"{USER}:{PASSWORD}@tcp(127.0.0.1:{server.port})/?collation=nope"))
    with pytest.raises(ValueError, match="unknown collation"):
        client.connect()
    client.close()
    server.stop()


def test_charset_set_names_fallback_chain():
    # first charset refused → falls back to the next; first OK wins
    s = _collation_connect("?charset=badcs,utf8mb4,utf8",
                           refuse=("SET NAMES badcs",))
    assert s.seen_queries == ["SET NAMES badcs", "SET NAMES utf8mb4"]
    # all refused → the last server error surfaces
    with pytest.raises(RuntimeError, match="query failed"):
        _collation_connect("?charset=badcs",
                           refuse=("SET NAMES badcs",))


def test_old_password_scramble_shape():
    tok = D.old_password_scramble("secret-pw", bytes(range(1, 9)))
    assert len(tok) == 8
    # deterministic and salt-sensitive
    assert tok == D.old_password_scramble("secret-pw", bytes(range(1, 9)))
    assert tok != D.old_password_scramble("secret-pw", bytes(range(2, 10)))
    assert D.old_password_scramble("", b"x" * 8) == b""
    # spaces/tabs in the password are skipped by the pre-4.1 hash
    assert (D.old_password_scramble("a b\tc", bytes(8))
            == D.old_password_scramble("abc", bytes(8)))


@pytest.fixture(scope="module")
def ssl_pair(tmp_path_factory):
    """Self-signed server cert (with SAN, so full hostname verification
    works) + the server-side context and the cert path for pinning."""
    import ssl
    import subprocess

    d = tmp_path_factory.mktemp("tls")
    key, crt = str(d / "key.pem"), str(d / "cert.pem")
    subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
         "-keyout", key, "-out", crt, "-days", "1", "-subj",
         "/CN=127.0.0.1", "-addext", "subjectAltName=IP:127.0.0.1"],
        check=True, capture_output=True)
    server = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    server.load_cert_chain(crt, key)
    return server, crt


def test_tls_upgrade_end_to_end(ssl_pair, dump_world):
    """DSN tls=skip-verify: SSLRequest → TLS handshake → auth + dump over
    the encrypted channel; frames identical to the plaintext path."""
    raw = [fr for _, _, _, fr in dump_world.frames][:50]
    server = FakeDumpServer(raw, ssl_ctx=ssl_pair[0])
    server.start()
    client = D.DumpClient(D.parse_dsn(
        f"{USER}:{PASSWORD}@tcp(127.0.0.1:{server.port})/?tls=skip-verify"))
    client.connect()
    client.exec("SET @x=1")
    got = list(client.start_dump(1, "binlog.000000", 4))
    client.close()
    server.join(timeout=10)
    assert server.tls_used is True
    assert server.auth_ok is True
    assert got == raw


def test_named_tls_config_pinned_cert(ssl_pair, dump_world):
    """Per-DSN named TLS config (reference dump/utils.go:41-52
    RegisterTLSConfig): ?tls=<key> resolves a registered SSLContext —
    here with FULL verification pinned to the fake server's self-signed
    cert (CA + hostname via SAN), the strictest mode the built-ins
    cannot express."""
    import ssl

    server_ctx, crt = ssl_pair
    raw = [fr for _, _, _, fr in dump_world.frames][:20]
    server = FakeDumpServer(raw, ssl_ctx=server_ctx)
    server.start()
    pinned = ssl.create_default_context(cafile=crt)
    D.register_tls_config("pinned-ci", pinned)
    try:
        client = D.DumpClient(D.parse_dsn(
            f"{USER}:{PASSWORD}@tcp(127.0.0.1:{server.port})/"
            "?tls=pinned-ci"), timeout=120)  # survives saturated-host CI
        client.connect()
        got = list(client.start_dump(1, "binlog.000000", 4))
        client.close()
    finally:
        D.deregister_tls_config("pinned-ci")
    server.join(timeout=10)
    assert server.tls_used is True and got == raw


def test_tls_config_registry_contract():
    import ssl

    ctx = ssl.create_default_context()
    # bool-ish keys and skip-verify are reserved (reference parity)
    for key in ("true", "false", "1", "0", "TRUE", "skip-verify",
                "SKIP-VERIFY"):
        with pytest.raises(ValueError, match="reserved"):
            D.register_tls_config(key, ctx)
    # an unregistered key fails loudly instead of silently plaintext
    server = FakeDumpServer([])
    server.start()
    client = D.DumpClient(D.parse_dsn(
        f"{USER}:{PASSWORD}@tcp(127.0.0.1:{server.port})/?tls=nosuch"))
    with pytest.raises(ValueError, match="unregistered"):
        client.connect()
    client.close()


def test_escaping_parity_with_reference_tables():
    """dump/utils.go:603-731 byte-for-byte: backslash table, quote
    doubling, and backtick identifier quoting used by DescTableMapper."""
    assert (D.escape_string_backslash("a\x00b\nc\rd\x1ae'f\"g\\h")
            == "a\\0b\\nc\\rd\\Ze\\'f\\\"g\\\\h")
    assert D.escape_string_backslash("plain") == "plain"
    assert D.escape_string_quotes("it's o'clock") == "it''s o''clock"
    assert D.escape_string_quotes('say "hi"\\') == 'say "hi"\\'
    assert D.quote_identifier("repo_content") == "`repo_content`"
    assert D.quote_identifier("we`ird") == "`we``ird`"


def test_tls_refused_when_server_lacks_capability():
    server = FakeDumpServer([])  # no ssl_ctx: CLIENT_SSL not advertised
    server.start()
    client = D.DumpClient(D.parse_dsn(
        f"{USER}:{PASSWORD}@tcp(127.0.0.1:{server.port})/?tls=true"))
    with pytest.raises(ConnectionError, match="CLIENT_SSL"):
        client.connect()
    client.close()


def test_lenenc_roundtrip_and_null_cells():
    for v in (0, 1, 0xFA, 0xFB, 0xFFFF, 1 << 20, 1 << 40):
        raw = D.write_lenenc(v)
        got, pos = D.read_lenenc(raw, 0)
        assert (got, pos) == (v, len(raw)), v
    payload = (D.write_lenenc_str(b"alpha") + b"\xfb"
               + D.write_lenenc_str(b"") + D.write_lenenc_str(b"x" * 300))
    assert D.parse_text_row(payload, 4) == ("alpha", None, "", "x" * 300)


def test_exec_parses_result_set_and_master_status(dump_world):
    results = {
        "SHOW MASTER STATUS": (
            ["File", "Position", "Binlog_Do_DB", "Binlog_Ignore_DB"],
            [("binlog.000003", 1543, "", "")]),
        "desc `codehub`.`repo_content`": (
            ["Field", "Type", "Null", "Key", "Default", "Extra"],
            [("repo", "varchar(512)", "NO", "PRI", None, ""),
             ("path", "varchar(1024)", "NO", "PRI", None, ""),
             ("stars", "bigint(20) unsigned", "YES", "", None, "")]),
    }
    server = FakeDumpServer([], results=results)
    server.start()
    client = D.DumpClient(D.parse_dsn(
        f"{USER}:{PASSWORD}@tcp(127.0.0.1:{server.port})/"))
    client.connect()
    assert client.exec("SET @x=1") is None  # OK replies stay None
    assert D.master_status(client) == ("binlog.000003", 1543)
    rs = client.exec("desc `codehub`.`repo_content`")
    assert rs.columns == ["Field", "Type", "Null", "Key", "Default", "Extra"]
    assert rs.rows[0] == ("repo", "varchar(512)", "NO", "PRI", None, "")
    assert rs.dicts()[2]["Type"] == "bigint(20) unsigned"
    client.close()


def _desc_results(collation="utf8mb4_general_ci"):
    # SHOW FULL COLUMNS layout = DESC + Collation/Privileges/Comment
    cols = genlog.table_spec().columns
    rows = [(name, "blob" if name == "content" else "varchar(255)",
             collation, "YES", "", None, "", "select", "")
            for name, _t, _m, _u in cols]
    return {"show full columns from "
            f"`{genlog.DB}`.`{genlog.TABLE}`": (
        ["Field", "Type", "Collation", "Null", "Key", "Default", "Extra",
         "Privileges", "Comment"], rows)}


def test_desc_table_mapper_resolves_schema_over_the_wire(spark, tmp_path):
    """The reference's canonical consumer flow (example_test.go:76-98):
    the decode stage's pluggable mapper resolves column names/signedness
    with `desc db.tbl` over the dump protocol — executors unpickle the
    mapper (DSN only) and open their own connections against the fake
    server."""
    from binlog_spark import pipeline
    from binlog_spark.operators.merge import LakeTable
    from binlog_spark.schema import FRAME_SCHEMA

    gen = genlog.CdcWorldGenerator(seed=21, n_repos=8, paths_per_repo=6,
                                   txns_per_file=40)
    world = gen.generate(n_txns=80)
    server = FakeDumpServer([fr for _, _, _, fr in world.frames],
                            results=_desc_results(), max_conns=32)
    server.start()
    dsn = f"{USER}:{PASSWORD}@tcp(127.0.0.1:{server.port})/"

    # consumer flow: live dump over one connection...
    client = D.DumpClient(D.parse_dsn(dsn))
    client.connect()
    received = list(client.start_dump(777, "binlog.000000", 4))
    client.close()
    rows = list(D.frames_with_positions(received, "binlog.000000"))
    df = spark.createDataFrame(rows, FRAME_SCHEMA).repartition(3)

    # ...decode + apply with the wire-resolved schema provider
    mapper = D.DescTableMapper(dsn)
    lake = LakeTable.create(spark, str(tmp_path / "lake_desc"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    stats = pipeline.replay_batch(spark, df, lake, mapper, batch_id=0)
    server.stop()
    assert stats["n_changes"] == len(world.changes)
    got = {(r["repo"], r["path"]): r["content"]
           for r in lake.to_df().collect()}
    want = {k: v["content"] for k, v in world.final_state.items()}
    assert got == want
    # the schema really came over the wire
    assert any(q.startswith("show full columns from `codehub`")
               for q in server.seen_queries)


def test_desc_table_mapper_unknown_table_and_width_mismatch():
    results = dict(_desc_results())
    server = FakeDumpServer([], results=results, max_conns=2)
    server.start()
    dsn = f"{USER}:{PASSWORD}@tcp(127.0.0.1:{server.port})/"
    m = D.DescTableMapper(dsn)
    cols = m.mysql_table(genlog.DB, genlog.TABLE, 5)
    assert [c[0] for c in cols] == genlog.table_spec().col_names
    # SHOW FULL COLUMNS carries the per-column collation id (3-tuples)
    from binlog_spark.wire.collations import COLLATION_TO_ID
    assert {c[2] for c in cols} == {COLLATION_TO_ID["utf8mb4_general_ci"]}
    assert m.mysql_table(genlog.DB, genlog.TABLE, 7) is None  # width mismatch
    assert m.knows(genlog.DB, genlog.TABLE)
    assert m.mysql_table("nope", "missing", 3) is None
    assert not m.knows("nope", "missing")
    # picklability contract: only the DSN travels
    import pickle

    m2 = pickle.loads(pickle.dumps(m))
    assert m2.dsn == dsn and m2._client is None
    m.close()
    server.stop()


def test_packet_split_reassembly_over_socket_io():
    """16 MiB−1 wire-boundary splits round-trip through the client's
    packet layer (readPacket parity, dump/packets.go:32-102), including
    the exact-multiple case that needs a zero-length terminator."""
    import io

    from binlog_spark.sources.packets import MAX_PACKET_SIZE

    for size in (100, MAX_PACKET_SIZE - 1, MAX_PACKET_SIZE,
                 MAX_PACKET_SIZE + 7, 2 * MAX_PACKET_SIZE):
        payload = bytes([size % 251]) * size
        buf = io.BytesIO()
        D._write_packet(buf, 3, payload)
        buf.seek(0)
        seq, got = D._read_packet(buf)
        assert got == payload, size
        assert buf.read() == b""  # nothing trailing


# ---------------------------------------------------------------------------
# binary-protocol result sets (prepared statements)
# ---------------------------------------------------------------------------


def _bin_coldef(name, ftype, flags=0, decimals=0):
    """ColumnDefinition41 with an explicit type/flags/decimals tail."""
    out = b""
    for s in (b"def", b"", b"", b"", name.encode(), name.encode()):
        out += D.write_lenenc_str(s)
    out += bytes([0x0C]) + b"\x21\x00" + b"\x00" * 4
    out += bytes([ftype]) + struct.pack("<H", flags) + bytes([decimals])
    out += b"\x00\x00"
    return out


def _bin_row(specs, values):
    """Server-side binary row encoder (inverse of parse_binary_row):
    ``specs`` = [(ftype, flags)], temporal/lenenc cells given pre-encoded
    as bytes for temporals, str for strings."""
    n = len(specs)
    mask = bytearray((n + 7 + 2) // 8)
    body = bytearray()
    for i, ((ftype, flags), v) in enumerate(zip(specs, values)):
        if v is None:
            mask[(i + 2) >> 3] |= 1 << ((i + 2) & 7)
            continue
        unsigned = bool(flags & D.FLAG_UNSIGNED)
        if ftype == C.TYPE_TINY:
            body += struct.pack("<B" if unsigned else "<b", v)
        elif ftype in (C.TYPE_SHORT, C.TYPE_YEAR):
            body += struct.pack("<H" if unsigned else "<h", v)
        elif ftype in (C.TYPE_INT24, C.TYPE_LONG):
            body += struct.pack("<I" if unsigned else "<i", v)
        elif ftype == C.TYPE_LONGLONG:
            body += struct.pack("<Q" if unsigned else "<q", v)
        elif ftype == C.TYPE_FLOAT:
            body += struct.pack("<f", v)
        elif ftype == C.TYPE_DOUBLE:
            body += struct.pack("<d", v)
        elif isinstance(v, bytes):  # pre-encoded temporal payload
            body += D.write_lenenc(len(v)) + v
        else:
            body += D.write_lenenc_str(str(v).encode())
    return b"\x00" + bytes(mask) + bytes(body)


def _bin_result_packets(cols, rows):
    """cols = [(name, ftype, flags, decimals)], rows = value tuples →
    full binary result set as packet payloads."""
    pkts = [D.write_lenenc(len(cols))]
    pkts += [_bin_coldef(*c) for c in cols]
    pkts.append(b"\xfe\x00\x00\x02\x00")
    specs = [(c[1], c[2] if len(c) > 2 else 0) for c in cols]
    for r in rows:
        pkts.append(_bin_row(specs, r))
    pkts.append(b"\xfe\x00\x00\x02\x00")
    return pkts


def test_format_binary_datetime_reference_goldens():
    """The exact table from the reference's TestFormatBinaryDateTime
    (`dump/utils_test.go:116-144`)."""
    raw = bytearray(11)
    struct.pack_into("<H", raw, 0, 1978)
    raw[2], raw[3], raw[4], raw[5], raw[6] = 12, 30, 15, 46, 23
    struct.pack_into("<I", raw, 7, 987654)
    f = D.format_binary_datetime
    assert f(b"", 10, False) == "0000-00-00"
    assert f(b"", 19, False) == "0000-00-00 00:00:00"
    assert f(bytes(raw[:4]), 10, False) == "1978-12-30"
    assert f(bytes(raw[:7]), 19, False) == "1978-12-30 15:46:23"
    assert f(bytes(raw[:11]), 26, False) == "1978-12-30 15:46:23.987654"
    # datetime with fraction truncated to the column's decimals
    assert f(bytes(raw[:11]), 23, False) == "1978-12-30 15:46:23.987"
    # date-only payload padded to a datetime width
    assert f(bytes(raw[:4]), 19, False) == "1978-12-30 00:00:00"


def test_format_binary_datetime_time_variants():
    f = D.format_binary_datetime
    assert f(b"", 8, True) == "00:00:00"
    assert f(b"", 12, True) == "00:00:00.000"
    plain = bytes([0, 0, 0, 0, 0, 9, 30, 12])
    assert f(plain, 8, True) == "09:30:12"
    neg_day = bytes([1, 1, 0, 0, 0, 5, 30, 12])  # -(1d 5h) = -29h
    assert f(neg_day, 8, True) == "-29:30:12"
    frac = plain + struct.pack("<I", 987654)
    assert f(frac, 12, True) == "09:30:12.987"
    assert f(frac, 15, True) == "09:30:12.987654"
    with pytest.raises(ValueError):
        f(plain, 9, True)  # illegal TIME display length
    with pytest.raises(ValueError):
        f(plain[:5], 8, True)  # illegal packet length


def test_parse_column_def_full():
    payload = _bin_coldef("qty", C.TYPE_LONGLONG, D.FLAG_UNSIGNED, 3)
    col = D.parse_column_def(payload)
    assert col.name == "qty"
    assert col.field_type == C.TYPE_LONGLONG
    assert col.unsigned
    assert col.decimals == 3


def test_parse_binary_row_type_coverage():
    """Every decode branch of `dump/packets.go:806-985`: signed/unsigned
    fixed-width numerics, float/double, lenenc strings, NULL-bitmap bits
    (2-bit offset), and the three temporal routes."""
    dt7 = struct.pack("<H", 2024) + bytes([2, 29, 13, 5, 59])
    date4 = struct.pack("<H", 1999) + bytes([12, 31])
    time8 = bytes([0, 0, 0, 0, 0, 8, 15, 30])
    cols = [
        ("i8", C.TYPE_TINY, 0, 0), ("u16", C.TYPE_SHORT, D.FLAG_UNSIGNED, 0),
        ("i32", C.TYPE_LONG, 0, 0),
        ("u64", C.TYPE_LONGLONG, D.FLAG_UNSIGNED, 0),
        ("f", C.TYPE_FLOAT, 0, 0), ("d", C.TYPE_DOUBLE, 0, 0),
        ("s", C.TYPE_VARSTRING, 0, 0), ("nul", C.TYPE_LONG, 0, 0),
        ("ts", C.TYPE_DATETIME, 0, 0), ("dt", C.TYPE_DATE, 0, 0),
        ("t", C.TYPE_TIME, 0, 2), ("yr", C.TYPE_YEAR, D.FLAG_UNSIGNED, 0),
    ]
    specs = [(c[1], c[2]) for c in cols]
    values = (-7, 65535, -2_000_000_000, (1 << 63) + 5, 1.5, -2.25,
              "héllo", None, dt7, date4, time8, 2024)
    payload = _bin_row(specs, values)
    coldefs = [D.parse_column_def(_bin_coldef(*c)) for c in cols]
    row = D.parse_binary_row(payload, coldefs)
    assert row == (-7, 65535, -2_000_000_000, (1 << 63) + 5, 1.5, -2.25,
                   "héllo", None, "2024-02-29 13:05:59", "1999-12-31",
                   "08:15:30.00", 2024)
    # a non-0x00 header is not a row packet
    with pytest.raises(ValueError):
        D.parse_binary_row(b"\xfb" + payload[1:], coldefs)


def test_parse_binary_row_null_bitmap_many_columns():
    """Bit offsets past the first mask byte (column 7+ with the 2-bit
    shift lands in mask[1])."""
    cols = [(f"c{i}", C.TYPE_LONG, 0, 0) for i in range(12)]
    specs = [(c[1], c[2]) for c in cols]
    values = tuple(None if i % 3 == 0 else i * 11 for i in range(12))
    payload = _bin_row(specs, values)
    coldefs = [D.parse_column_def(_bin_coldef(*c)) for c in cols]
    assert D.parse_binary_row(payload, coldefs) == values


def test_exec_prepared_end_to_end():
    """COM_STMT_PREPARE → EXECUTE(params) → binary result set → CLOSE
    against the fake server: the reader the reference vendors as dead
    code (`dump/packets.go:806`) driven live."""
    sql = "SELECT id, name, score FROM t WHERE id > ? AND name != ?"
    cols = [("id", C.TYPE_LONGLONG, 0, 0),
            ("name", C.TYPE_VARSTRING, 0, 0),
            ("score", C.TYPE_DOUBLE, 0, 0)]
    rows = [(1, "alpha", 0.5), (2, None, -1.25)]
    server = FakeDumpServer(
        [], prepared={sql: (2, _bin_result_packets(cols, rows))})
    server.start()
    dsn = f"{USER}:{PASSWORD}@tcp(127.0.0.1:{server.port})/"
    client = D.DumpClient(D.parse_dsn(dsn))
    client.connect()
    try:
        rs = client.exec_prepared(sql, (0, "x"))
    finally:
        client.close()
        server.stop()
        # STMT_CLOSE is fire-and-forget: wait for the serving thread to
        # drain it (it exits on the client's EOF) before asserting
        server.join(timeout=10)
    assert rs.columns == ["id", "name", "score"]
    assert rs.rows == rows
    # the execute packet carried both params: NULL bitmap (1 byte, clear),
    # rebound flag, 2 type pairs, then an int64 and a lenenc string
    params = server.seen_execute_params[-1]
    assert params[0] == 0 and params[1] == 1
    assert params[2:6] == bytes([C.TYPE_LONGLONG, 0, C.TYPE_VARSTRING, 0])
    assert struct.unpack_from("<q", params, 6)[0] == 0
    assert params[14:] == D.write_lenenc_str(b"x")
    assert any(q.startswith("<close stmt") for q in server.seen_queries)


def test_exec_prepared_param_count_and_errors():
    sql = "SELECT 1 FROM t WHERE a = ?"
    cols = [("one", C.TYPE_LONG, 0, 0)]
    server = FakeDumpServer(
        [], prepared={sql: (1, _bin_result_packets(cols, [(1,)]))})
    server.start()
    dsn = f"{USER}:{PASSWORD}@tcp(127.0.0.1:{server.port})/"
    client = D.DumpClient(D.parse_dsn(dsn))
    client.connect()
    try:
        with pytest.raises(ValueError, match="wants 1 params"):
            client.exec_prepared(sql, ())
        with pytest.raises(RuntimeError, match="prepare failed"):
            client.exec_prepared("SELECT nope", ())
    finally:
        client.close()
        server.stop()


def test_encode_stmt_params_null_bitmap_and_types():
    blob = D.encode_stmt_params((None, 42, 2.5, "ab", b"c"))
    assert blob[0] == 0b00000001  # param 0 NULL
    assert blob[1] == 1  # new-params-bound flag
    types = blob[2:12]
    assert types == bytes([C.TYPE_NULL, 0, C.TYPE_LONGLONG, 0,
                           C.TYPE_DOUBLE, 0, C.TYPE_VARSTRING, 0,
                           C.TYPE_VARSTRING, 0])
    vals = blob[12:]
    assert struct.unpack_from("<q", vals, 0)[0] == 42
    assert struct.unpack_from("<d", vals, 8)[0] == 2.5
    assert vals[16:] == D.write_lenenc_str(b"ab") + D.write_lenenc_str(b"c")
