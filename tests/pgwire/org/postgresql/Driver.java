// Minimal PostgreSQL wire-protocol JDBC driver — TEST STAND-IN, NOT pgjdbc.
//
// WHY THIS EXISTS: the live-PostgreSQL e2e layer (tests/test_postgres_e2e.py,
// mirroring /root/reference/tests/test_floorist.py:15-220) needs the
// org.postgresql JDBC driver on the Spark session classpath, but this
// development box has no network/Maven access, so the real pgjdbc jar cannot
// be vendored. PostgreSQL 15 server binaries ARE installed, and the
// frontend/backend protocol v3 is fully public (PostgreSQL docs, "Frontend/
// Backend Protocol"), so this file implements the small protocol subset that
// Spark's JDBC READ path actually exercises:
//
//   * startup + trust / cleartext / md5 auth (the e2e cluster uses trust)
//   * simple query protocol ('Q') for Statement.execute (corpus seeding)
//   * extended query protocol (Parse/Bind/Describe/Execute/Sync) for
//     PreparedStatement.executeQuery, including REAL server-side paging:
//     fetchSize > 0 with autocommit off (exactly what Spark's
//     PostgresDialect.beforeFetch arranges) executes the portal with a row
//     limit and resumes it on PortalSuspended — rows cross the wire in
//     fetchSize-bounded batches, same shape as pgjdbc's cursor mode
//   * text-format decoding for the types the reference schema uses:
//     int2/4/8, float4/8, numeric, text/varchar/bpchar, bool, bytea, date,
//     time, timestamp, timestamptz, uuid, json/jsonb, interval, inet (as
//     their text form), and 1-D arrays decoded by their element type
//
// The class is NAMED org.postgresql.Driver, the reference deployment's
// driver (reference floorist.py:123 — postgres-only), and the jar lists it
// in META-INF/services/java.sql.Driver as pgjdbc does (tests/pgwire_build.py),
// so DriverManager picks it for the engine's jdbc:postgresql: URL: the point
// of the e2e is to exercise the DEFAULT wiring with zero test-path
// special-casing. It
// advertises itself as non-jdbcCompliant and version 0.x so it cannot be
// mistaken for the real driver at runtime. JDBC type metadata
// (ResultSetMetaData codes/names, e.g. uuid -> Types.OTHER "uuid",
// text[] -> Types.ARRAY "_text") follows pgjdbc's public documented mapping
// so Spark's PostgresDialect sees the same dialect surface it would in
// production.
//
// JDBC's interfaces carry hundreds of methods; everything Spark does not
// call is surfaced through dynamic proxies that throw
// SQLFeatureNotSupportedException naming the missing method — loud and
// debuggable, never silently wrong.
package org.postgresql;

import java.io.BufferedInputStream;
import java.io.BufferedOutputStream;
import java.io.ByteArrayOutputStream;
import java.io.DataInputStream;
import java.io.DataOutputStream;
import java.io.EOFException;
import java.io.IOException;
import java.lang.reflect.InvocationHandler;
import java.lang.reflect.Method;
import java.lang.reflect.Proxy;
import java.math.BigDecimal;
import java.net.InetSocketAddress;
import java.net.Socket;
import java.nio.charset.StandardCharsets;
import java.security.MessageDigest;
import java.sql.Connection;
import java.sql.DriverPropertyInfo;
import java.sql.ResultSetMetaData;
import java.sql.SQLException;
import java.sql.SQLFeatureNotSupportedException;
import java.sql.Timestamp;
import java.sql.Types;
import java.time.Instant;
import java.time.LocalDate;
import java.time.LocalDateTime;
import java.time.LocalTime;
import java.time.ZoneId;
import java.time.ZoneOffset;
import java.util.ArrayDeque;
import java.util.ArrayList;
import java.util.List;
import java.util.Properties;

public final class Driver implements java.sql.Driver {
    static {
        try {
            java.sql.DriverManager.registerDriver(new Driver());
        } catch (SQLException e) {
            throw new ExceptionInInitializerError(e);
        }
    }

    public boolean acceptsURL(String url) {
        return url != null && url.startsWith("jdbc:postgresql:");
    }

    public Connection connect(String url, Properties info) throws SQLException {
        if (!acceptsURL(url)) return null;
        return Wire.open(url, info);
    }

    public int getMajorVersion() { return 0; }
    public int getMinorVersion() { return 1; }
    public boolean jdbcCompliant() { return false; }

    public DriverPropertyInfo[] getPropertyInfo(String url, Properties info) {
        return new DriverPropertyInfo[0];
    }

    public java.util.logging.Logger getParentLogger()
            throws SQLFeatureNotSupportedException {
        throw new SQLFeatureNotSupportedException();
    }
}

/** One protocol message: type byte + body with big-endian readers. */
final class Msg {
    final char type;
    final byte[] body;
    int pos;

    Msg(char type, byte[] body) { this.type = type; this.body = body; }

    int u8() { return body[pos++] & 0xFF; }
    int i16() { return ((body[pos++] & 0xFF) << 8) | (body[pos++] & 0xFF); }
    int i32() {
        return ((body[pos++] & 0xFF) << 24) | ((body[pos++] & 0xFF) << 16)
                | ((body[pos++] & 0xFF) << 8) | (body[pos++] & 0xFF);
    }
    byte[] bytes(int n) {
        byte[] out = new byte[n];
        System.arraycopy(body, pos, out, 0, n);
        pos += n;
        return out;
    }
    String cstr() {
        int start = pos;
        while (body[pos] != 0) pos++;
        String s = new String(body, start, pos - start, StandardCharsets.UTF_8);
        pos++;
        return s;
    }
}

/** Result column: name + type OID + typmod, with the pgjdbc-documented
 *  JDBC mapping Spark's PostgresDialect keys on. */
final class Col {
    final String name;
    final int oid;
    final int typmod;

    Col(String name, int oid, int typmod) {
        this.name = name;
        this.oid = oid;
        this.typmod = typmod;
    }

    int jdbcType() {
        switch (oid) {
            case 16: return Types.BIT;            // bool (pgjdbc maps to BIT)
            case 17: return Types.BINARY;         // bytea
            case 20: return Types.BIGINT;         // int8
            case 21: return Types.SMALLINT;       // int2
            case 23: return Types.INTEGER;        // int4
            case 700: return Types.REAL;          // float4
            case 701: return Types.DOUBLE;        // float8
            case 1042: return Types.CHAR;         // bpchar
            case 1082: return Types.DATE;
            case 1083: return Types.TIME;
            case 1114: case 1184: return Types.TIMESTAMP; // timestamp[tz]
            case 1700: return Types.NUMERIC;
            // json/jsonb/uuid/interval/inet
            case 114: case 3802: case 2950: case 1186: case 869: return Types.OTHER;
            case 1000: case 1001: case 1005: case 1007: case 1009:
            case 1014: case 1015: case 1016: case 1021: case 1022:
            case 1115: case 1182: case 1231:
                return Types.ARRAY;
            default: return Types.VARCHAR;        // text/varchar/name/unknown
        }
    }

    String typeName() {
        switch (oid) {
            case 16: return "bool";
            case 17: return "bytea";
            case 20: return "int8";
            case 21: return "int2";
            case 23: return "int4";
            case 25: return "text";
            case 114: return "json";
            case 700: return "float4";
            case 701: return "float8";
            case 1042: return "bpchar";
            case 1043: return "varchar";
            case 1082: return "date";
            case 1083: return "time";
            case 1114: return "timestamp";
            case 1184: return "timestamptz";
            case 1700: return "numeric";
            case 2950: return "uuid";
            case 3802: return "jsonb";
            case 1186: return "interval";
            case 869: return "inet";
            // array type names: element name with the pg "_" prefix
            case 1000: return "_bool";
            case 1001: return "_bytea";
            case 1005: return "_int2";
            case 1007: return "_int4";
            case 1009: return "_text";
            case 1014: return "_bpchar";
            case 1015: return "_varchar";
            case 1016: return "_int8";
            case 1021: return "_float4";
            case 1022: return "_float8";
            case 1115: return "_timestamp";
            case 1182: return "_date";
            case 1231: return "_numeric";
            default: return "text";
        }
    }

    int precision() {
        switch (oid) {
            case 20: return 19;
            case 21: return 5;
            case 23: return 10;
            case 700: return 8;
            case 701: return 17;
            case 1700: return typmod == -1 ? 0 : ((typmod - 4) >> 16) & 0xFFFF;
            case 1042: case 1043: return typmod == -1 ? 0 : typmod - 4;
            default: return 0;
        }
    }

    int scale() {
        return oid == 1700 && typmod != -1 ? (typmod - 4) & 0xFFFF : 0;
    }

    boolean signed() {
        switch (oid) {
            case 20: case 21: case 23: case 700: case 701: case 1700:
                return true;
            default:
                return false;
        }
    }

    /** The element column of a 1-D array column (pg_type.typelem; an
     *  array's typmod is its elements'); text for any other column. */
    Col element() {
        switch (oid) {
            case 1000: return new Col(name, 16, typmod);
            case 1001: return new Col(name, 17, typmod);
            case 1005: return new Col(name, 21, typmod);
            case 1007: return new Col(name, 23, typmod);
            case 1014: return new Col(name, 1042, typmod);
            case 1015: return new Col(name, 1043, typmod);
            case 1016: return new Col(name, 20, typmod);
            case 1021: return new Col(name, 700, typmod);
            case 1022: return new Col(name, 701, typmod);
            case 1115: return new Col(name, 1114, typmod);
            case 1182: return new Col(name, 1082, typmod);
            case 1231: return new Col(name, 1700, typmod);
            default: return new Col(name, 25, typmod);
        }
    }

    /** Class of the value pgjdbc's getObject returns for this type. */
    Class<?> javaClass() {
        switch (oid) {
            case 16: return Boolean.class;
            case 17: return byte[].class;
            case 20: return Long.class;
            case 21: return Short.class;
            case 23: return Integer.class;
            case 700: return Float.class;
            case 701: return Double.class;
            case 1082: return java.sql.Date.class;
            case 1083: return java.sql.Time.class;
            case 1114: case 1184: return Timestamp.class;
            case 1700: return BigDecimal.class;
            default: return String.class;
        }
    }

    /** One text-form value decoded to {@link #javaClass()}. */
    Object decode(String s) {
        switch (oid) {
            case 16: return s.equals("t") || s.equals("true");
            case 17: return Decode.bytea(s);
            case 20: return Long.parseLong(s);
            case 21: return Short.parseShort(s);
            case 23: return Integer.parseInt(s);
            case 700: return Float.parseFloat(s);
            case 701: return Double.parseDouble(s);
            case 1082: return Decode.date(s);
            case 1083: return Decode.time(s);
            case 1114: case 1184: return Decode.timestamp(s);
            case 1700: return new BigDecimal(s);
            default: return s;
        }
    }
}

/** Socket + protocol engine; one per Connection. */
final class Wire {
    private final Socket sock;
    private final DataInputStream in;
    private final DataOutputStream out;
    String serverVersion = "";
    boolean autoCommit = true;
    boolean inTxn = false;
    boolean closed = false;
    String url;
    String user;
    Exec active; // at most one un-drained statement per connection

    private Wire(Socket sock) throws IOException {
        this.sock = sock;
        this.in = new DataInputStream(new BufferedInputStream(sock.getInputStream(), 1 << 16));
        this.out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream(), 1 << 16));
    }

    static Connection open(String url, Properties info) throws SQLException {
        // jdbc:postgresql://host[:port]/db  |  jdbc:postgresql:db
        String host = "localhost";
        int port = 5432;
        String db;
        String rest = url.substring("jdbc:postgresql:".length());
        int q = rest.indexOf('?');
        if (q >= 0) rest = rest.substring(0, q); // options ignored (stand-in)
        if (rest.startsWith("//")) {
            rest = rest.substring(2);
            int slash = rest.indexOf('/');
            String hostPort = slash >= 0 ? rest.substring(0, slash) : rest;
            db = slash >= 0 ? rest.substring(slash + 1) : "";
            int colon = hostPort.lastIndexOf(':');
            if (colon >= 0) {
                host = hostPort.substring(0, colon);
                port = Integer.parseInt(hostPort.substring(colon + 1));
            } else {
                host = hostPort;
            }
        } else {
            db = rest;
        }
        String user = info.getProperty("user", System.getProperty("user.name", "postgres"));
        String password = info.getProperty("password", "");
        if (db.isEmpty()) db = user;
        try {
            Socket s = new Socket();
            s.connect(new InetSocketAddress(host, port), 10_000);
            s.setTcpNoDelay(true);
            Wire w = new Wire(s);
            w.url = url;
            w.user = user;
            w.startup(user, db, password);
            return Handlers.connection(w);
        } catch (IOException e) {
            throw new SQLException("pgwire: cannot connect to " + host + ":" + port
                    + " — " + e, "08001", e);
        }
    }

    private void startup(String user, String db, String password)
            throws IOException, SQLException {
        ByteArrayOutputStream b = new ByteArrayOutputStream();
        DataOutputStream d = new DataOutputStream(b);
        d.writeInt(196608); // protocol 3.0
        for (String[] kv : new String[][] {
                {"user", user}, {"database", db}, {"client_encoding", "UTF8"},
                {"TimeZone", "UTC"}, {"DateStyle", "ISO"},
                {"extra_float_digits", "3"},
                {"application_name", "floorist-pgwire-standin"}}) {
            cstr(d, kv[0]);
            cstr(d, kv[1]);
        }
        d.writeByte(0);
        byte[] body = b.toByteArray();
        out.writeInt(body.length + 4);
        out.write(body);
        out.flush();
        for (;;) {
            Msg m = read();
            switch (m.type) {
                case 'R':
                    int code = m.i32();
                    if (code == 0) break; // AuthenticationOk
                    if (code == 3) { // cleartext
                        sendPassword(password.getBytes(StandardCharsets.UTF_8));
                    } else if (code == 5) { // md5
                        byte[] salt = m.bytes(4);
                        sendPassword(md5Password(user, password, salt));
                    } else {
                        throw new SQLException(
                                "pgwire stand-in: unsupported auth code " + code
                                + " (use trust/password/md5)", "28000");
                    }
                    break;
                case 'S':
                    String k = m.cstr();
                    String v = m.cstr();
                    if (k.equals("server_version")) serverVersion = v;
                    break;
                case 'K': case 'N': break;
                case 'E': throw err(m);
                case 'Z': return;
                default: break;
            }
        }
    }

    private void sendPassword(byte[] pw) throws IOException {
        out.writeByte('p');
        out.writeInt(4 + pw.length + 1);
        out.write(pw);
        out.writeByte(0);
        out.flush();
    }

    private static byte[] md5Password(String user, String password, byte[] salt) {
        try {
            MessageDigest md5 = MessageDigest.getInstance("MD5");
            byte[] inner = hex(md5.digest(
                    (password + user).getBytes(StandardCharsets.UTF_8)));
            md5.reset();
            md5.update(inner);
            md5.update(salt);
            byte[] outer = hex(md5.digest());
            byte[] result = new byte[3 + outer.length];
            result[0] = 'm'; result[1] = 'd'; result[2] = '5';
            System.arraycopy(outer, 0, result, 3, outer.length);
            return result;
        } catch (Exception e) {
            throw new RuntimeException(e);
        }
    }

    private static byte[] hex(byte[] raw) {
        char[] digits = "0123456789abcdef".toCharArray();
        byte[] out = new byte[raw.length * 2];
        for (int i = 0; i < raw.length; i++) {
            out[2 * i] = (byte) digits[(raw[i] >> 4) & 0xF];
            out[2 * i + 1] = (byte) digits[raw[i] & 0xF];
        }
        return out;
    }

    Msg read() throws SQLException {
        try {
            int t = in.read();
            if (t < 0) throw new EOFException("server closed connection");
            int len = in.readInt();
            byte[] body = new byte[len - 4];
            in.readFully(body);
            return new Msg((char) t, body);
        } catch (IOException e) {
            closed = true;
            throw new SQLException("pgwire: read failed — " + e, "08006", e);
        }
    }

    static SQLException err(Msg m) {
        String msg = "", state = "", detail = "";
        for (;;) {
            int f = m.u8();
            if (f == 0) break;
            String v = m.cstr();
            if (f == 'M') msg = v;
            else if (f == 'C') state = v;
            else if (f == 'D') detail = v;
        }
        return new SQLException(
                "pgwire: " + msg + (detail.isEmpty() ? "" : " — " + detail), state);
    }

    private static void cstr(DataOutputStream d, String s) throws IOException {
        d.write(s.getBytes(StandardCharsets.UTF_8));
        d.writeByte(0);
    }

    private void msg(char type, byte[] body) throws SQLException {
        try {
            out.writeByte(type);
            out.writeInt(body.length + 4);
            out.write(body);
        } catch (IOException e) {
            closed = true;
            throw new SQLException("pgwire: write failed — " + e, "08006", e);
        }
    }

    private static byte[] packed(Object... parts) {
        try {
            ByteArrayOutputStream b = new ByteArrayOutputStream();
            DataOutputStream d = new DataOutputStream(b);
            for (Object p : parts) {
                if (p instanceof String) cstr(d, (String) p);
                else if (p instanceof Integer) d.writeInt((Integer) p);
                else if (p instanceof Short) d.writeShort((Short) p);
                else if (p instanceof Byte) d.writeByte((Byte) p);
                else throw new IllegalArgumentException(String.valueOf(p));
            }
            return b.toByteArray();
        } catch (IOException e) {
            throw new RuntimeException(e);
        }
    }

    void sendParse(String stmt, String sql) throws SQLException {
        msg('P', packed(stmt, sql, (short) 0));
    }

    void sendBind(String portal, String stmt) throws SQLException {
        // no params, all-text result format
        msg('B', packed(portal, stmt, (short) 0, (short) 0, (short) 0));
    }

    void sendDescribe(char kind, String name) throws SQLException {
        msg('D', packed((byte) kind, name));
    }

    void sendExecute(String portal, int maxRows) throws SQLException {
        msg('E', packed(portal, maxRows));
    }

    void sendClosePortal(String portal) throws SQLException {
        msg('C', packed((byte) 'P', portal));
    }

    void sendSync() throws SQLException {
        msg('S', new byte[0]);
        try {
            out.flush();
        } catch (IOException e) {
            closed = true;
            throw new SQLException("pgwire: flush failed — " + e, "08006", e);
        }
    }

    /** Simple query protocol; returns the result columns (null if none). */
    Exec simple(String sql) throws SQLException {
        drainActive();
        Exec ex = new Exec(this, null, 0);
        msg('Q', packed(sql));
        try {
            out.flush();
        } catch (IOException e) {
            closed = true;
            throw new SQLException("pgwire: flush failed — " + e, "08006", e);
        }
        ex.readToReady(true);
        return ex;
    }

    /** Make the wire reusable: finish/close whatever statement still owns it. */
    void drainActive() throws SQLException {
        if (active != null) {
            active.finish();
            active = null;
        }
    }

    void beginIfNeeded() throws SQLException {
        if (!autoCommit && !inTxn) {
            simple("BEGIN");
            inTxn = true;
        }
    }

    void commitTxn() throws SQLException {
        if (inTxn) {
            simple("COMMIT");
            inTxn = false;
        }
    }

    void rollbackTxn() throws SQLException {
        if (inTxn) {
            simple("ROLLBACK");
            inTxn = false;
        }
    }

    void close() {
        if (closed) return;
        closed = true;
        try {
            out.writeByte('X'); // Terminate
            out.writeInt(4);
            out.flush();
        } catch (IOException ignored) {
            // socket close below is the real cleanup
        }
        try {
            sock.close();
        } catch (IOException ignored) {
            // best-effort
        }
    }
}

/** One executed statement: columns + row batches, with portal resumption. */
final class Exec {
    private final Wire w;
    private final String portal; // null => simple query (no paging)
    private final int fetchSize;
    Col[] cols;
    final ArrayDeque<String[]> rows = new ArrayDeque<>();
    boolean complete = false;  // CommandComplete seen — no more rows server-side
    boolean drained = false;   // portal closed / protocol finished

    Exec(Wire w, String portal, int fetchSize) {
        this.w = w;
        this.portal = portal;
        this.fetchSize = fetchSize;
    }

    /** Extended-protocol execution. Caller arranged txn state already. */
    void start(String sql) throws SQLException {
        w.drainActive();
        w.sendParse("", sql);
        w.sendBind(portal, "");
        w.sendDescribe('P', portal);
        w.sendExecute(portal, fetchSize);
        w.sendSync();
        readToReady(false);
        w.active = complete ? null : this;
        if (complete) drained = true;
    }

    /** Resume a suspended portal for the next fetchSize batch. */
    boolean fetchMore() throws SQLException {
        if (complete || drained) return false;
        w.sendExecute(portal, fetchSize);
        w.sendSync();
        readToReady(false);
        if (complete) {
            w.active = null;
            drained = true;
        }
        return !rows.isEmpty();
    }

    void readToReady(boolean simpleMode) throws SQLException {
        SQLException err = null;
        for (;;) {
            Msg m = w.read();
            switch (m.type) {
                case '1': case '2': case '3': break; // Parse/Bind/CloseComplete
                case 'T': cols = rowDesc(m); break;
                case 'n': break;                     // NoData
                case 't': break;                     // ParameterDescription
                case 'D': rows.add(dataRow(m)); break;
                case 'C': complete = true; break;    // CommandComplete
                case 's': break;                     // PortalSuspended
                case 'I': complete = true; break;    // EmptyQueryResponse
                case 'E': err = Wire.err(m); break;
                case 'S': case 'N': case 'A': case 'K': break;
                case 'Z':
                    if (err != null) throw err;
                    return;
                default:
                    break;
            }
        }
    }

    /** Close the portal early (ResultSet closed before exhaustion). */
    void finish() throws SQLException {
        if (drained) return;
        drained = true;
        if (portal != null && !complete) {
            w.sendClosePortal(portal);
            w.sendSync();
            readToReady(false);
        }
        if (w.active == this) w.active = null;
    }

    private static Col[] rowDesc(Msg m) {
        int n = m.i16();
        Col[] out = new Col[n];
        for (int i = 0; i < n; i++) {
            String name = m.cstr();
            m.i32(); // table oid
            m.i16(); // attnum
            int typeOid = m.i32();
            m.i16(); // typlen
            int typmod = m.i32();
            m.i16(); // format code
            out[i] = new Col(name, typeOid, typmod);
        }
        return out;
    }

    private static String[] dataRow(Msg m) {
        int n = m.i16();
        String[] out = new String[n];
        for (int i = 0; i < n; i++) {
            int len = m.i32();
            out[i] = len < 0 ? null
                    : new String(m.bytes(len), StandardCharsets.UTF_8);
        }
        return out;
    }
}

/** Text-format value decoding (PG -> java.sql types). */
final class Decode {
    static Timestamp timestamp(String s) {
        // ISO DateStyle: "2026-01-02 03:04:05[.ffffff][+HH[:MM[:SS]]]"
        int tzAt = -1;
        for (int i = s.length() - 1; i > 10; i--) {
            char c = s.charAt(i);
            if (c == '+' || c == '-') { tzAt = i; break; }
            if (c == ' ') break; // "... BC" suffix — not supported, fall through
        }
        try {
            if (tzAt > 0) {
                String base = s.substring(0, tzAt);
                String off = s.substring(tzAt);
                if (off.length() == 3) off = off + ":00"; // "+00" -> "+00:00"
                else if (off.length() == 5 && off.charAt(3) != ':') {
                    off = off.substring(0, 3) + ":" + off.substring(3);
                }
                Instant inst = LocalDateTime.parse(base.replace(' ', 'T'))
                        .atOffset(ZoneOffset.of(off)).toInstant();
                return Timestamp.from(inst);
            }
            LocalDateTime ldt = LocalDateTime.parse(s.replace(' ', 'T'));
            return Timestamp.from(ldt.atZone(ZoneId.systemDefault()).toInstant());
        } catch (RuntimeException e) {
            throw new IllegalArgumentException("pgwire: bad timestamp " + s, e);
        }
    }

    static java.sql.Date date(String s) {
        return java.sql.Date.valueOf(LocalDate.parse(s));
    }

    /** "HH:MM:SS[.ffffff]" on 1970-01-01 in the JVM zone, as pgjdbc
     *  builds a java.sql.Time (millisecond precision). */
    static java.sql.Time time(String s) {
        LocalDateTime ldt = LocalTime.parse(s).atDate(LocalDate.of(1970, 1, 1));
        return new java.sql.Time(ldt.atZone(ZoneId.systemDefault()).toInstant().toEpochMilli());
    }

    static byte[] bytea(String s) {
        if (!s.startsWith("\\x")) {
            throw new IllegalArgumentException(
                    "pgwire: only hex bytea output supported, got " + s);
        }
        int n = (s.length() - 2) / 2;
        byte[] out = new byte[n];
        for (int i = 0; i < n; i++) {
            out[i] = (byte) Integer.parseInt(s.substring(2 + 2 * i, 4 + 2 * i), 16);
        }
        return out;
    }

    /** 1-D array text form: {a,b}, {}, {"q,uo\"ted",NULL}. */
    static Object[] array(String s) {
        if (s.length() < 2 || s.charAt(0) != '{' || s.charAt(s.length() - 1) != '}') {
            throw new IllegalArgumentException("pgwire: bad array literal " + s);
        }
        String inner = s.substring(1, s.length() - 1);
        if (inner.isEmpty()) return new Object[0];
        List<Object> out = new ArrayList<>();
        StringBuilder cur = new StringBuilder();
        boolean quoted = false, wasQuoted = false;
        for (int i = 0; i < inner.length(); i++) {
            char c = inner.charAt(i);
            if (quoted) {
                if (c == '\\') cur.append(inner.charAt(++i));
                else if (c == '"') quoted = false;
                else cur.append(c);
            } else if (c == '"') {
                quoted = true;
                wasQuoted = true;
            } else if (c == ',') {
                out.add(element(cur.toString(), wasQuoted));
                cur.setLength(0);
                wasQuoted = false;
            } else {
                cur.append(c);
            }
        }
        out.add(element(cur.toString(), wasQuoted));
        return out.toArray();
    }

    private static Object element(String raw, boolean wasQuoted) {
        if (!wasQuoted && raw.equals("NULL")) return null;
        return raw;
    }
}

/** Dynamic-proxy JDBC objects: implement exactly what Spark's read path and
 *  the e2e seeding touch; everything else fails loudly with the method name. */
final class Handlers {

    @FunctionalInterface
    interface Call {
        Object apply(Object[] args) throws Exception;
    }

    private static Object proxy(Class<?> iface, java.util.Map<String, Call> table,
                                boolean lenientDefaults) {
        InvocationHandler h = (p, method, args) -> {
            String name = method.getName();
            Call c = table.get(name);
            if (c != null) return c.apply(args == null ? new Object[0] : args);
            switch (name) { // Object basics
                case "toString": return "pgwire:" + iface.getSimpleName();
                case "hashCode": return System.identityHashCode(p);
                case "equals": return p == args[0];
                case "isWrapperFor": return false;
                case "unwrap": throw new SQLException("pgwire: not a wrapper");
                default: break;
            }
            if (lenientDefaults) {
                Class<?> r = method.getReturnType();
                if (r == boolean.class) return false;
                if (r == int.class) return 0;
                if (r == long.class) return 0L;
                if (r == short.class) return (short) 0;
                if (r == String.class) return "";
                if (!r.isPrimitive()) return null;
            }
            throw new SQLFeatureNotSupportedException(
                    "pgwire stand-in does not implement "
                    + iface.getSimpleName() + "." + name);
        };
        return Proxy.newProxyInstance(Handlers.class.getClassLoader(),
                new Class<?>[] {iface}, h);
    }

    private static java.util.Map<String, Call> table() {
        return new java.util.HashMap<>();
    }

    // ------------------------------------------------------------------
    // Connection
    // ------------------------------------------------------------------
    static Connection connection(Wire w) {
        java.util.Map<String, Call> t = table();
        int[] portalSeq = {0};
        t.put("prepareStatement", a -> prepared(w, (String) a[0], portalSeq));
        t.put("createStatement", a -> statement(w));
        t.put("close", a -> { w.rollbackTxn(); w.close(); return null; });
        t.put("isClosed", a -> w.closed);
        t.put("isValid", a -> !w.closed);
        t.put("setAutoCommit", a -> {
            boolean on = (Boolean) a[0];
            if (on && !w.autoCommit) w.commitTxn();
            w.autoCommit = on;
            return null;
        });
        t.put("getAutoCommit", a -> w.autoCommit);
        t.put("commit", a -> { w.commitTxn(); return null; });
        t.put("rollback", a -> { w.rollbackTxn(); return null; });
        t.put("setTransactionIsolation", a -> null);
        t.put("getTransactionIsolation", a -> Connection.TRANSACTION_READ_COMMITTED);
        t.put("setReadOnly", a -> null);
        t.put("isReadOnly", a -> false);
        t.put("getWarnings", a -> null);
        t.put("clearWarnings", a -> null);
        t.put("setNetworkTimeout", a -> null);
        t.put("getNetworkTimeout", a -> 0);
        t.put("abort", a -> { w.close(); return null; });
        t.put("getCatalog", a -> null);
        t.put("setCatalog", a -> null);
        t.put("getSchema", a -> "public");
        t.put("setSchema", a -> null);
        t.put("getMetaData", a -> databaseMetaData(w));
        return (Connection) proxy(Connection.class, t, false);
    }

    // ------------------------------------------------------------------
    // DatabaseMetaData — lenient: probes get type-defaults, not throws
    // ------------------------------------------------------------------
    private static Object databaseMetaData(Wire w) {
        java.util.Map<String, Call> t = table();
        t.put("getDatabaseProductName", a -> "PostgreSQL");
        t.put("getDatabaseProductVersion", a -> w.serverVersion);
        t.put("getDatabaseMajorVersion",
                a -> Integer.parseInt(w.serverVersion.replaceAll("[^0-9].*$", "")));
        t.put("getDatabaseMinorVersion", a -> 0);
        t.put("getDriverName", a -> "floorist pgwire stand-in");
        t.put("getDriverVersion", a -> "0.1");
        t.put("getJDBCMajorVersion", a -> 4);
        t.put("getJDBCMinorVersion", a -> 2);
        t.put("getURL", a -> w.url);
        t.put("getUserName", a -> w.user);
        t.put("getIdentifierQuoteString", a -> "\"");
        t.put("supportsTransactions", a -> true);
        return proxy(java.sql.DatabaseMetaData.class, t, true);
    }

    // ------------------------------------------------------------------
    // Plain Statement (corpus seeding: simple query protocol)
    // ------------------------------------------------------------------
    private static Object statement(Wire w) {
        java.util.Map<String, Call> t = table();
        Exec[] last = {null};
        boolean[] closed = {false};
        t.put("execute", a -> {
            Exec ex = w.simple((String) a[0]);
            last[0] = ex;
            return ex.cols != null;
        });
        t.put("executeUpdate", a -> { w.simple((String) a[0]); return 0; });
        t.put("executeQuery", a -> {
            Exec ex = w.simple((String) a[0]);
            last[0] = ex;
            if (ex.cols == null) {
                throw new SQLException("pgwire: statement returned no result set");
            }
            return resultSet(w, ex, null);
        });
        t.put("getResultSet",
                a -> last[0] != null && last[0].cols != null
                        ? resultSet(w, last[0], null) : null);
        t.put("getUpdateCount", a -> -1);
        t.put("getMoreResults", a -> false);
        t.put("close", a -> { closed[0] = true; return null; });
        t.put("isClosed", a -> closed[0]);
        t.put("cancel", a -> null);
        t.put("getWarnings", a -> null);
        t.put("clearWarnings", a -> null);
        t.put("setQueryTimeout", a -> null);
        t.put("getQueryTimeout", a -> 0);
        t.put("setFetchSize", a -> null);
        t.put("getFetchSize", a -> 0);
        t.put("setMaxRows", a -> null);
        t.put("getMaxRows", a -> 0);
        return proxy(java.sql.Statement.class, t, false);
    }

    // ------------------------------------------------------------------
    // PreparedStatement (Spark read path: extended protocol + paging)
    // ------------------------------------------------------------------
    private static Object prepared(Wire w, String sql, int[] portalSeq) {
        java.util.Map<String, Call> t = table();
        int[] fetchSize = {0};
        boolean[] closed = {false};
        Exec[] current = {null};
        Col[][] described = {null};
        t.put("executeQuery", a -> {
            // real server-side paging needs the portal to survive Sync,
            // which requires an open transaction — exactly the contract
            // Spark arranges via PostgresDialect.beforeFetch(autocommit=off).
            boolean paged = fetchSize[0] > 0 && !w.autoCommit;
            w.beginIfNeeded();
            Exec ex = new Exec(w, "p" + (portalSeq[0]++), paged ? fetchSize[0] : 0);
            ex.start(sql);
            current[0] = ex;
            if (ex.cols == null) {
                throw new SQLException("pgwire: query returned no result set: " + sql);
            }
            return resultSet(w, ex, paged ? ex : null);
        });
        t.put("execute", a -> {
            w.beginIfNeeded();
            Exec ex = new Exec(w, "p" + (portalSeq[0]++), 0);
            ex.start(sql);
            current[0] = ex;
            return ex.cols != null;
        });
        t.put("getResultSet",
                a -> current[0] != null && current[0].cols != null
                        ? resultSet(w, current[0], null) : null);
        t.put("getMetaData", a -> {
            if (current[0] != null && current[0].cols != null) {
                return metaData(current[0].cols);
            }
            if (described[0] == null) { // Describe(statement) — no execution
                w.drainActive();
                w.sendParse("", sql);
                w.sendDescribe('S', "");
                w.sendSync();
                Exec probe = new Exec(w, null, 0);
                probe.readToReady(false);
                described[0] = probe.cols == null ? new Col[0] : probe.cols;
            }
            return metaData(described[0]);
        });
        t.put("setFetchSize", a -> { fetchSize[0] = (Integer) a[0]; return null; });
        t.put("getFetchSize", a -> fetchSize[0]);
        t.put("setQueryTimeout", a -> null);
        t.put("getQueryTimeout", a -> 0);
        t.put("close", a -> {
            closed[0] = true;
            if (current[0] != null) current[0].finish();
            return null;
        });
        t.put("isClosed", a -> closed[0]);
        t.put("cancel", a -> null);
        t.put("getWarnings", a -> null);
        t.put("clearWarnings", a -> null);
        t.put("getUpdateCount", a -> -1);
        t.put("getMoreResults", a -> false);
        t.put("setMaxRows", a -> null);
        t.put("getMaxRows", a -> 0);
        return proxy(java.sql.PreparedStatement.class, t, false);
    }

    // ------------------------------------------------------------------
    // ResultSet
    // ------------------------------------------------------------------
    private static Object resultSet(Wire w, Exec ex, Exec pager) {
        java.util.Map<String, Call> t = table();
        Object[] row = {null};          // current row (String[] text values)
        boolean[] wasNull = {false};
        boolean[] closed = {false};
        Col[] cols = ex.cols;

        Call next = a -> {
            if (closed[0]) return false;
            if (ex.rows.isEmpty() && pager != null) pager.fetchMore();
            String[] r = ex.rows.poll();
            row[0] = r;
            return r != null;
        };
        t.put("next", next);
        t.put("close", a -> {
            closed[0] = true;
            ex.finish();
            return null;
        });
        t.put("isClosed", a -> closed[0]);
        t.put("wasNull", a -> wasNull[0]);
        t.put("getMetaData", a -> metaData(cols));
        t.put("findColumn", a -> findCol(cols, (String) a[0]));
        t.put("getFetchSize", a -> 0);
        t.put("setFetchSize", a -> null);
        t.put("getType", a -> java.sql.ResultSet.TYPE_FORWARD_ONLY);
        t.put("getConcurrency", a -> java.sql.ResultSet.CONCUR_READ_ONLY);
        t.put("getWarnings", a -> null);
        t.put("clearWarnings", a -> null);

        // value getters — all share the raw-text fetch + wasNull bookkeeping
        java.util.function.BiFunction<Object[], Col[], String> raw = (a, cs) -> {
            int idx = a[0] instanceof String
                    ? findCol(cs, (String) a[0]) : (Integer) a[0];
            String v = ((String[]) row[0])[idx - 1];
            wasNull[0] = v == null;
            return v;
        };
        t.put("getString", a -> raw.apply(a, cols));
        t.put("getObject", a -> raw.apply(a, cols));
        t.put("getBoolean", a -> {
            String v = raw.apply(a, cols);
            return v != null && (v.equals("t") || v.equals("true"));
        });
        t.put("getByte", a -> {
            String v = raw.apply(a, cols);
            return v == null ? (byte) 0 : Byte.parseByte(v);
        });
        t.put("getShort", a -> {
            String v = raw.apply(a, cols);
            return v == null ? (short) 0 : Short.parseShort(v);
        });
        t.put("getInt", a -> {
            String v = raw.apply(a, cols);
            return v == null ? 0 : Integer.parseInt(v);
        });
        t.put("getLong", a -> {
            String v = raw.apply(a, cols);
            return v == null ? 0L : Long.parseLong(v);
        });
        t.put("getFloat", a -> {
            String v = raw.apply(a, cols);
            return v == null ? 0f : Float.parseFloat(v);
        });
        t.put("getDouble", a -> {
            String v = raw.apply(a, cols);
            return v == null ? 0d : Double.parseDouble(v);
        });
        t.put("getBigDecimal", a -> {
            String v = raw.apply(a, cols);
            return v == null ? null : new BigDecimal(v);
        });
        t.put("getBytes", a -> {
            String v = raw.apply(a, cols);
            return v == null ? null : Decode.bytea(v);
        });
        t.put("getDate", a -> {
            String v = raw.apply(a, cols);
            return v == null ? null : Decode.date(v);
        });
        t.put("getTime", a -> {
            String v = raw.apply(a, cols);
            return v == null ? null : Decode.time(v);
        });
        t.put("getTimestamp", a -> {
            String v = raw.apply(a, cols);
            return v == null ? null : Decode.timestamp(v);
        });
        t.put("getArray", a -> {
            int idx = a[0] instanceof String
                    ? findCol(cols, (String) a[0]) : (Integer) a[0];
            String v = ((String[]) row[0])[idx - 1];
            wasNull[0] = v == null;
            return v == null ? null : sqlArray(Decode.array(v), cols[idx - 1]);
        });
        return proxy(java.sql.ResultSet.class, t, false);
    }

    private static int findCol(Col[] cols, String label) {
        for (int i = 0; i < cols.length; i++) {
            if (cols[i].name.equalsIgnoreCase(label)) return i + 1;
        }
        throw new IllegalArgumentException("pgwire: no column " + label);
    }

    /** A java.sql.Array whose getArray is typed by the element type, as
     *  pgjdbc's is (int4[] -> Integer[], date[] -> java.sql.Date[]). */
    private static Object sqlArray(Object[] texts, Col arrayCol) {
        java.util.Map<String, Call> t = table();
        Col elem = arrayCol.element();
        Object[] values = (Object[]) java.lang.reflect.Array.newInstance(
                elem.javaClass(), texts.length);
        for (int i = 0; i < texts.length; i++) {
            values[i] = texts[i] == null ? null : elem.decode((String) texts[i]);
        }
        t.put("getArray", a -> values);
        t.put("getBaseType", a -> elem.jdbcType());
        t.put("getBaseTypeName", a -> elem.typeName());
        t.put("free", a -> null);
        return proxy(java.sql.Array.class, t, false);
    }

    // ------------------------------------------------------------------
    // ResultSetMetaData
    // ------------------------------------------------------------------
    private static Object metaData(Col[] cols) {
        java.util.Map<String, Call> t = table();
        t.put("getColumnCount", a -> cols.length);
        t.put("getColumnName", a -> cols[(Integer) a[0] - 1].name);
        t.put("getColumnLabel", a -> cols[(Integer) a[0] - 1].name);
        t.put("getColumnType", a -> cols[(Integer) a[0] - 1].jdbcType());
        t.put("getColumnTypeName", a -> cols[(Integer) a[0] - 1].typeName());
        t.put("getPrecision", a -> cols[(Integer) a[0] - 1].precision());
        t.put("getScale", a -> cols[(Integer) a[0] - 1].scale());
        t.put("isSigned", a -> cols[(Integer) a[0] - 1].signed());
        t.put("isNullable", a -> ResultSetMetaData.columnNullableUnknown);
        t.put("isCaseSensitive", a -> true);
        t.put("isCurrency", a -> false);
        t.put("isAutoIncrement", a -> false);
        t.put("getColumnDisplaySize", a -> {
            int p = cols[(Integer) a[0] - 1].precision();
            return p > 0 ? p : 255;
        });
        t.put("getColumnClassName", a -> "java.lang.String");
        t.put("getCatalogName", a -> "");
        t.put("getSchemaName", a -> "");
        t.put("getTableName", a -> "");
        t.put("isReadOnly", a -> true);
        t.put("isWritable", a -> false);
        t.put("isSearchable", a -> true);
        return proxy(ResultSetMetaData.class, t, false);
    }
}
