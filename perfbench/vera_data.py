"""VerA-shaped source data, the throwaway Postgres cluster it lives in, and
the checks on an export of it.

The rows are generated inside Postgres from the seed (md5 of
"seed:table:row:field"), so the same seed always gives the same rows. The
payloads cover what the export must carry unchanged: tabs, newlines,
backslashes, unicode, NULL next to the empty string, 32-byte bytea hashes,
and KB-sized source text and JSON.
"""
import json
import math
import os
import shutil
import socket
import subprocess
import sys

import duckdb

USER = "graft"
SCHEMA = "vera"

# Column kinds: int (bigint), int4, text, json, bytea, ts. Column order and types
# follow the program's declared VerA schemas (graft.vera.Schemas).
TABLES = {
    "contract_deployments": [
        ("id", "text"), ("chain_id", "int"), ("address", "bytea"),
        ("transaction_hash", "bytea"), ("block_number", "int"),
        ("transaction_index", "int4"), ("deployer", "bytea"),
        ("contract_id", "text"), ("created_at", "ts"), ("updated_at", "ts"),
        ("created_by", "text"), ("updated_by", "text")],
    "compiled_contracts": [
        ("id", "text"), ("created_at", "ts"), ("updated_at", "ts"),
        ("created_by", "text"), ("updated_by", "text"), ("compiler", "text"),
        ("version", "text"), ("language", "text"), ("name", "text"),
        ("fully_qualified_name", "text"), ("compiler_settings", "json"),
        ("compilation_artifacts", "json"), ("creation_code_hash", "bytea"),
        ("creation_code_artifacts", "json"), ("runtime_code_hash", "bytea"),
        ("runtime_code_artifacts", "json")],
    "sources": [
        ("source_hash", "bytea"), ("source_hash_keccak", "bytea"),
        ("content", "text"), ("created_at", "ts"), ("updated_at", "ts"),
        ("created_by", "text"), ("updated_by", "text")],
}

# Rows per output file (graft.vera.Schemas: chunk size x chunks per file).
ROWS_PER_FILE = {
    "contract_deployments": 1_000_000, "compiled_contracts": 10_000,
    "sources": 10_000,
}

PG_TYPE = {"int": "bigint", "int4": "integer", "text": "text",
           "json": "json", "bytea": "bytea", "ts": "timestamp"}

# Table -> (rows, integer partition key or None, order key).
# contract_deployments has many narrow rows and is scanned range-partitioned
# on its integer key; compiled_contracts and sources carry KB-sized JSON and
# text and have no integer key (one serial COPY stream each); both rotate
# every 10k rows, so sources is written as three files.
TABLE_SPEC = {
    "contract_deployments": (120_000, "block_number", "id"),
    "compiled_contracts": (6_000, None, "id"),
    "sources": (20_500, None, "source_hash"),
}


# A tenth of each table, exported in the untimed warmup.
WARM_SCHEMA = "vera_warm"


def warm_spec(spec):
    return {t: (n // 10, key, order) for t, (n, key, order) in spec.items()}


def table_arg(spec):
    return ",".join(f"{t}:{key or '-'}:{order}"
                    for t, (_, key, order) in spec.items())


# --------------------------------------------------------------- generator

FUNCTIONS = r"""
CREATE OR REPLACE FUNCTION pb_int(s text, m bigint) RETURNS bigint LANGUAGE sql IMMUTABLE AS
  $$ SELECT (('x' || substr(md5(s), 1, 15))::bit(60)::bigint) % m $$;
CREATE OR REPLACE FUNCTION pb_uuid(s text) RETURNS text LANGUAGE sql IMMUTABLE AS
  $$ SELECT md5(s)::uuid::text $$;
CREATE OR REPLACE FUNCTION pb_hash(s text) RETURNS bytea LANGUAGE sql IMMUTABLE AS
  $$ SELECT decode(md5(s || '/a') || md5(s || '/b'), 'hex') $$;
CREATE OR REPLACE FUNCTION pb_addr(s text) RETURNS bytea LANGUAGE sql IMMUTABLE AS
  $$ SELECT decode(substr(md5(s || '/a') || md5(s || '/b'), 1, 40), 'hex') $$;
CREATE OR REPLACE FUNCTION pb_ts(s text) RETURNS timestamp LANGUAGE sql IMMUTABLE AS
  $$ SELECT timestamp '2022-01-01' + pb_int(s, 63072000000000) * interval '1 microsecond' $$;
-- the awkward values an export must carry unchanged
CREATE OR REPLACE FUNCTION pb_text(s text) RETURNS text LANGUAGE sql IMMUTABLE AS
  $$ SELECT CASE pb_int(s, 16)
       WHEN 0 THEN NULL
       WHEN 1 THEN ''
       WHEN 2 THEN E'tab\there'
       WHEN 3 THEN E'line\nbreak\r\nend'
       WHEN 4 THEN E'back\\slash \\N \\x00'
       WHEN 5 THEN 'καλημέρα — 多言語 🚀'
       ELSE 'user_' || substr(md5(s), 1, 6) END $$;
"""

ROWS_SQL = {
    "contract_deployments": """
  pb_uuid(s || 'id'), (ARRAY[1, 10, 137, 8453, 42161])[1 + pb_int(s || 'ch', 5)],
  pb_addr(s || 'ad'), pb_hash(s || 'tx'), 15000000 + i * 4 + pb_int(s || 'bn', 4),
  pb_int(s || 'ti', 300)::int, pb_addr(s || 'dp'), pb_uuid(s || 'ct'),
  pb_ts(s || 'ca'), pb_ts(s || 'ua'), pb_text(s || 'cb'), pb_text(s || 'ub')""",
    "compiled_contracts": """
  pb_uuid(s || 'id'), pb_ts(s || 'ca'), pb_ts(s || 'ua'),
  pb_text(s || 'cb'), pb_text(s || 'ub'),
  (ARRAY['solc', 'vyper'])[1 + pb_int(s || 'cp', 2)],
  '0.8.' || pb_int(s || 'v', 30) || '+commit.' || substr(md5(s || 'v'), 1, 8),
  (ARRAY['Solidity', 'Vyper', 'Yul'])[1 + pb_int(s || 'lg', 3)],
  'Contract_' || i, 'contracts/Contract_' || i || '.sol:Contract_' || i,
  format('{"optimizer": {"enabled": %s, "runs": %s}, "evmVersion": "%s",  "remappings": ["@oz/=lib/oz/"], "outputSelection": {"*": {"*": ["abi", "evm.bytecode"]}}}',
    (pb_int(s || 'op', 2) = 0)::text, pb_int(s || 'rn', 100000),
    (ARRAY['paris', 'shanghai', 'cancun'])[1 + pb_int(s || 'ev', 3)])::json,
  ('{"abi": [' || repeat(format('{"type": "function", "name": "f_%s", "inputs": [{"name": "a", "type": "uint256"}], "stateMutability": "view"}, ',
    substr(md5(s || 'fn'), 1, 8)), 1 + pb_int(s || 'na', 12)::int)
    || '{"type": "fallback"}], "devdoc": {"details": "line\\nbreak \\"quoted\\" \\\\ é"}, "storageLayout": null}')::json,
  pb_hash(s || 'ch'),
  format('{"sourceMap": "%s", "linkReferences": {}, "cborAuxdata": {"1": {"offset": %s, "value": "0x%s"}}}',
    repeat(pb_int(s || 'sm', 999) || ':' || pb_int(s || 'sl', 99) || ':0:-;', 4 + pb_int(s || 'ns', 40)::int),
    pb_int(s || 'co', 9999), md5(s || 'cv'))::json,
  pb_hash(s || 'rh'),
  format('{"immutableReferences": {"%s": [{"start": %s, "length": 32}]}, "sourceMap": "%s"}',
    pb_int(s || 'ir', 999), pb_int(s || 'is', 9999),
    repeat(pb_int(s || 'rm', 999) || ':' || pb_int(s || 'rl', 99) || ':0;', 4 + pb_int(s || 'rs', 40)::int))::json""",
    "sources": """
  pb_hash(s || 'sh'), pb_hash(s || 'sk'),
  '// SPDX-License-Identifier: MIT' || E'\\n' || 'pragma solidity ^0.8.' || pb_int(s || 'pv', 30)
    || E';\\n\\n/// @notice façade — \\u00e9t\\u00e9 \\\\ "quoted"\\ncontract C_' || i || E' {\\n'
    || repeat(E'\\tfunction f_' || substr(md5(s || 'f'), 1, 8) || E'(uint256 a) public pure returns (uint256) {\\n\\t\\treturn a * '
       || pb_int(s || 'k', 1000) || E';\\n\\t}\\n', 2 + pb_int(s || 'nf', 10)::int)
    || E'}\\n',
  pb_ts(s || 'ca'), pb_ts(s || 'ua'), pb_text(s || 'cb'), pb_text(s || 'ub')""",
}


def schema_sql(spec, schema=SCHEMA):
    out = [f"CREATE SCHEMA {schema};"]
    for t in spec:
        cols = ", ".join(f"{c} {PG_TYPE[k]}" for c, k in TABLES[t])
        out.append(f"CREATE TABLE {schema}.{t} ({cols});")
    return "\n".join(out)


def insert_sql(table, seed, lo, hi, schema=SCHEMA):
    """Rows lo..hi-1 of one table."""
    return (f"INSERT INTO {schema}.{table} SELECT {ROWS_SQL[table]}\n"
            f"FROM (SELECT i, '{int(seed)}:{table}:' || i AS s "
            f"FROM generate_series({int(lo)}, {int(hi) - 1}) i) g;")


# ---------------------------------------------------------- fingerprints

def canon_pg(col, kind):
    x = {"int": f"{col}::text", "int4": f"{col}::text", "text": col,
         "json": f"{col}::text", "bytea": f"encode({col}, 'hex')",
         "ts": f"to_char({col}, 'YYYY-MM-DD HH24:MI:SS.US')"}[kind]
    return f"coalesce('v' || octet_length({x}) || ':' || {x}, 'n')"


def canon_duck(col, kind):
    x = {"int": f"CAST({col} AS VARCHAR)", "int4": f"CAST({col} AS VARCHAR)",
         "text": col, "json": col,
         "bytea": f"lower(hex({col}))",
         "ts": f"strftime({col}, '%Y-%m-%d %H:%M:%S.%f')"}[kind]
    return f"coalesce('v' || strlen({x}) || ':' || {x}, 'n')"


def row_expr(table, canon):
    return "concat_ws('|', " + ", ".join(canon(c, k) for c, k in TABLES[table]) + ")"


def source_sql(table, schema=SCHEMA):
    """Row count, order-independent content fingerprint and the bytes
    Postgres holds for the rows of one source table."""
    return (f"SELECT count(*), coalesce(sum(('x' || substr(md5({row_expr(table, canon_pg)}),"
            f" 1, 15))::bit(60)::bigint), 0)::text, coalesce(sum(pg_column_size(t.*)), 0)"
            f" FROM {schema}.{table} t")


# ----------------------------------------------------------------- cluster

def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def as_postgres(cmd, **kw):
    """Run `cmd` as the `postgres` user of a new user namespace that maps
    that user onto the caller. Postgres refuses to run as root; this way it
    does not, yet it reaches and owns files wherever the caller does, so
    its data directory can sit inside the checkout."""
    ns = ["unshare", "--user", "--map-user=postgres", "--map-group=postgres"]
    return subprocess.run(ns + cmd, cwd="/", env={"PATH": os.environ["PATH"]},
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, **kw)


class Cluster:
    """A throwaway Postgres cluster: initdb and pg_ctl as `postgres` (see
    `as_postgres`), trust auth, TCP on 127.0.0.1 only, a free port, data
    under the work directory. It is stopped and deleted on exit from the
    `with` block, also when the block fails."""

    def __init__(self, work):
        self.dir = os.path.join(os.path.abspath(work), f"pg-{os.getpid()}")
        self.port = str(free_port())

    def __enter__(self):
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        try:
            self._start()
        except BaseException:
            self.__exit__(None, None, None)
            raise
        return self

    def _start(self):
        data = os.path.join(self.dir, "data")
        r = as_postgres(["initdb", "-D", data, "-A", "trust", "-U", USER,
                         "-E", "UTF8", "--locale=C", "--no-sync"], timeout=120)
        if r.returncode != 0:
            raise RuntimeError("initdb failed:\n" + r.stdout)
        # Writes need not survive a crash here; autovacuum would add
        # background work to the timed runs.
        opts = (f"-p {self.port} -c listen_addresses=127.0.0.1 "
                "-c unix_socket_directories= -c fsync=off "
                "-c synchronous_commit=off -c full_page_writes=off "
                "-c autovacuum=off -c shared_buffers=8MB")
        r = as_postgres(["pg_ctl", "-D", data, "-l", os.path.join(self.dir, "log"),
                         "-o", opts, "-w", "-t", "60", "start"], timeout=90)
        if r.returncode != 0:
            raise RuntimeError("pg_ctl start failed:\n" + r.stdout)

    def __exit__(self, *exc):
        # A server that is up, or half up after a failed start, has a pid file.
        data = os.path.join(self.dir, "data")
        if os.path.exists(os.path.join(data, "postmaster.pid")):
            as_postgres(["pg_ctl", "-D", data, "-m", "immediate", "-w", "-t", "60",
                         "stop"], timeout=90)
        shutil.rmtree(self.dir, ignore_errors=True)

    def _psql_cmd(self):
        return ["psql", "-X", "-q", "-A", "-t", "-v", "ON_ERROR_STOP=1",
                "-h", "127.0.0.1", "-p", self.port, "-U", USER, "-d", "postgres"]

    def psql(self, sql):
        r = subprocess.run(self._psql_cmd(), input=sql, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True, timeout=300)
        if r.returncode != 0:
            raise RuntimeError("psql failed: " + r.stderr)
        return r.stdout

    def seed(self, spec, seed, schema=SCHEMA, sessions=4):
        """Create the tables and insert the rows, `sessions` connections
        at a time, each inserting a contiguous slice of every table."""
        self.psql(FUNCTIONS + schema_sql(spec, schema))
        procs = []
        try:
            for k in range(sessions):
                sql = "\n".join(
                    insert_sql(t, seed, n * k // sessions, n * (k + 1) // sessions, schema)
                    for t, (n, _, _) in spec.items())
                procs.append(subprocess.Popen(
                    self._psql_cmd() + ["-c", sql], stdout=subprocess.DEVNULL,
                    stderr=subprocess.PIPE, text=True))
            errors = [p.communicate(timeout=300)[1] for p in procs]
        finally:
            for p in procs:
                if p.poll() is None:
                    p.kill()
                p.wait()
        failed = [e for p, e in zip(procs, errors) if p.returncode != 0]
        if failed:
            raise RuntimeError("seeding failed: " + failed[0])

    def source_stats(self, spec, schema=SCHEMA):
        out = {}
        for t in spec:
            n, fp, nbytes = self.psql(source_sql(t, schema)).strip().split("|")
            out[t] = {"rows": int(n), "fp": fp, "bytes": int(nbytes)}
        return out


# ------------------------------------------------------------------ checks

def file_name(table, file_no, rpf):
    return f"{table}_{file_no * rpf}_{(file_no + 1) * rpf}_zstd.parquet"


def check_export(out_dir, spec, src):
    """The export in `out_dir` against its source: the manifest lists
    exactly the files written, file names and per-file row counts follow
    the rows-per-file law, and each table's row multiset has the source's
    fingerprint. Returns the failures found."""
    failures = []
    try:
        with open(os.path.join(out_dir, "manifest.json")) as f:
            manifest = json.load(f)
    except (OSError, ValueError) as e:
        return [f"manifest unreadable: {e}"]
    entries = os.listdir(out_dir)
    written = sorted(e for e in entries if e.endswith(".parquet"))
    stray = sorted(e for e in entries if e not in written and e != "manifest.json"
                   and not e.startswith("."))
    staging = sorted(e for e in entries if e.startswith(".staging"))
    if stray or staging:
        failures.append(f"unexpected entries in the export: {stray + staging}")
    listed = manifest.get("files", {})
    if set(listed) != set(spec):
        failures.append(f"manifest tables {sorted(listed)} != {sorted(spec)}")
    keys = [k for ks in listed.values() for k in ks]
    if sorted(k.split("/", 1)[-1] for k in keys) != written:
        failures.append("manifest does not list exactly the files written")
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    for t in spec:
        rpf = ROWS_PER_FILE[t]
        n = src[t]["rows"]
        want = [f"{t}/{file_name(t, i, rpf)}" for i in range(math.ceil(n / rpf))]
        got = listed.get(t, [])
        if got != want:
            failures.append(f"{t}: manifest keys {got[:3]}... != {want[:3]}...")
            continue
        paths = [os.path.join(out_dir, k.split("/", 1)[1]) for k in got]
        if not all(os.path.exists(p) for p in paths):
            failures.append(f"{t}: a listed file is missing")
            continue
        plist = "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"
        counts = dict(con.sql(
            f"SELECT filename, count(*) FROM read_parquet({plist}, filename=true) "
            "GROUP BY filename").fetchall())
        for i, p in enumerate(paths):
            expect = rpf if i < len(paths) - 1 else n - rpf * (len(paths) - 1)
            if counts.get(p, 0) != expect:
                failures.append(f"{t}: {os.path.basename(p)} holds "
                                f"{counts.get(p, 0)} rows, expected {expect}")
        rows, fp = con.sql(
            f"SELECT count(*), coalesce(sum(('0x' || substr(md5({row_expr(t, canon_duck)}),"
            f" 1, 15))::BIGINT), 0)::VARCHAR FROM read_parquet({plist})").fetchone()
        if rows != n or fp != src[t]["fp"]:
            failures.append(f"{t}: exported rows {rows} / fingerprint {fp}, "
                            f"source {n} / {src[t]['fp']}")
    con.close()
    return failures


def manifest_bytes(out_dir):
    with open(os.path.join(out_dir, "manifest.json")) as f:
        manifest = json.load(f)
    return sum(os.path.getsize(os.path.join(out_dir, k.split("/", 1)[1]))
               for ks in manifest["files"].values() for k in ks)


def selftest(work):
    """The same seed gives the same source fingerprint; another seed does
    not."""
    small = {t: (2000, key, order) for t, (_, key, order) in TABLE_SPEC.items()}
    with Cluster(work) as pg:
        fps = {}
        for schema, seed in (("a", 7), ("b", 7), ("c", 8)):
            pg.seed(small, seed, schema)
            fps[schema] = pg.source_stats(small, schema)
    ok = True
    for t in small:
        same = fps["a"][t] == fps["b"][t]
        differ = fps["a"][t]["fp"] != fps["c"][t]["fp"]
        ok &= same and differ
        print(f"{t}: same seed {'agrees' if same else 'DIFFERS'}, "
              f"other seed {'differs' if differ else 'AGREES'}")
    print("selftest", "passed" if ok else "FAILED")
    if not ok:
        sys.exit(1)
