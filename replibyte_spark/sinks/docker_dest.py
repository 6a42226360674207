"""Docker-container destinations (reference K4): restore a dump into a
freshly-started postgres / mysql / mongo container — the reference's
dev-UX loop ("seed my laptop database from yesterday's prod dump").

Reference parity: destination/docker.rs:22-119 (container run/exec/
stop/rm through the docker CLI, ids truncated to 12 chars),
postgres_docker.rs:10-15,60-64 / mysql_docker.rs:10-13,57-75 /
mongodb_docker.rs:10-14,58-76 (image + env + client-command defaults,
including the mongo trailing-NUL strip its mongorestore pipe needs).

Spark-first differences, deliberate:

- **Readiness is polled, not slept.**  docker.rs:48 hardcodes a 20 s
  sleep after `docker run` ("FIX: this is a workaround").  Each engine
  here polls its own readiness probe (`pg_isready`, `mysqladmin ping`,
  `mongosh --eval db.runCommand('ping')`) with backoff until the
  container accepts work, so a warm image is usable in ~1 s and a slow
  pull fails with the probe's stderr instead of a corrupt restore.
- **Every docker invocation goes through a runner with a dry-run
  mode.**  The full command plan — run args, env, readiness probes,
  the exec'd client command, the piped payload — is recorded and
  testable on machines without a Docker daemon (this sandbox; the
  reference's own destination tests need a live daemon).  Live mode
  executes the identical plan via subprocess.
- **The payload is rendered from the dump's typed tables** (DDL +
  INSERT statements via sinks/sqldump_sink's row encoder), not an
  opaque blob: the datastore stores parquet, so the restore pipe is
  dialect-rendered on demand.  Driver-side by design — container
  seeding is a dev-scale operation (the reference pipes the whole dump
  through one stdin too); 100 TB restores take the JDBC/parquet
  destinations instead.
"""

from __future__ import annotations

import shutil
import subprocess
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

DOCKER_BINARY = "docker"  # destination/docker.rs:6


@dataclass
class DockerCall:
    """One recorded docker invocation (argv after the binary, plus any
    bytes piped to stdin) — the dry-run artifact tests assert on."""
    argv: "list[str]"
    stdin: "bytes | None" = None


class DockerRunner:
    """Thin docker-CLI executor.  ``dry_run=True`` records every call in
    `.calls` and answers from `.script` (a list of (returncode, stdout,
    stderr) tuples, consumed in order; defaults to success with a fake
    container id) — the whole destination plan is assertable without a
    daemon.  Live mode shells out with the identical argv."""

    def __init__(self, dry_run: bool = False, binary: str = DOCKER_BINARY):
        self.dry_run = dry_run
        self.binary = binary
        self.calls: "list[DockerCall]" = []
        self.script: "list[tuple[int, bytes, bytes]]" = []

    def available(self) -> bool:
        """Binary on PATH and daemon answering (docker.rs:94-118
        `daemon_is_running`: `docker ps`)."""
        if self.dry_run:
            return True
        if shutil.which(self.binary) is None:
            return False
        rc, _, _ = self.run(["ps"])
        return rc == 0

    def run(self, argv: "list[str]",
            stdin: "bytes | None" = None,
            timeout: float = 600.0) -> "tuple[int, bytes, bytes]":
        self.calls.append(DockerCall(list(argv), stdin))
        if self.dry_run:
            if self.script:
                return self.script.pop(0)
            return 0, b"0123456789abcdef0123456789abcdef\n", b""
        try:
            proc = subprocess.run([self.binary, *argv], input=stdin,
                                  capture_output=True, timeout=timeout)
        except subprocess.TimeoutExpired as exc:
            # normalize to the error types every caller already handles —
            # a wedged daemon must hit the CLI's loud-failure path, not
            # escape as an unhandled subprocess traceback
            raise RuntimeError(
                f"docker {argv[0]} timed out after {timeout:.0f}s") from exc
        return proc.returncode, proc.stdout, proc.stderr


@dataclass
class ContainerSpec:
    """One engine's container recipe — image/env/ports mirror the
    reference constants; probe/client are this port's additions."""
    image: str
    tag: str
    container_port: int
    env: "dict[str, str]" = field(default_factory=dict)
    command: "list[str]" = field(default_factory=list)
    client_cmd: str = ""        # exec'd with the dump piped to stdin
    probe_cmd: str = ""         # exec'd until rc==0 (readiness)
    strip_trailing_nul: bool = False  # mongodb_docker.rs:71


class DockerDestination:
    """Start container → wait ready → pipe restore payload → stop/rm.

    Mirrors the reference Connector/Destination split: `start()` is
    init(), `write(payload)` is write(), `stop()`/`rm()` the Container
    methods (ids truncated to 12 chars like docker.rs:66,75,87)."""

    def __init__(self, spec: ContainerSpec, host_port: int,
                 runner: "DockerRunner | None" = None,
                 ready_timeout: float = 120.0,
                 ready_interval: float = 1.0):
        self.spec = spec
        self.host_port = host_port
        self.runner = runner or DockerRunner()
        self.ready_timeout = ready_timeout
        self.ready_interval = ready_interval
        self.container_id: "str | None" = None

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> str:
        if not self.runner.available():
            raise RuntimeError(
                "docker binary not found or daemon not running — the "
                "container destinations need a local Docker; use the "
                "jdbc/parquet destinations otherwise")
        s = self.spec
        argv = ["run", "-p", f"{self.host_port}:{s.container_port}"]
        for k in sorted(s.env):
            argv += ["-e", f"{k}={s.env[k]}"]
        argv += ["-d", f"{s.image}:{s.tag}"]
        argv += list(s.command)
        rc, out, err = self.runner.run(argv)
        if rc != 0:
            raise RuntimeError(f"docker run failed: {err.decode(errors='replace')}")
        self.container_id = out.decode().strip()[:12]
        try:
            self._wait_ready()
        except Exception:
            # a container that never came ready must not keep running and
            # holding the host port — same no-zombie contract as write()
            self.stop()
            self.rm()
            raise
        return self.container_id

    def _wait_ready(self) -> None:
        """Poll the engine's own probe instead of the reference's fixed
        20 s sleep (docker.rs:48)."""
        deadline = time.monotonic() + self.ready_timeout
        last_err = b""
        while True:
            rc, _, last_err = self._exec(self.spec.probe_cmd)
            if rc == 0:
                return
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"container {self.container_id} not ready within "
                    f"{self.ready_timeout}s: "
                    f"{last_err.decode(errors='replace')}")
            if not self.runner.dry_run:
                time.sleep(self.ready_interval)

    def _exec(self, cmd: str,
              stdin: "bytes | None" = None) -> "tuple[int, bytes, bytes]":
        if self.container_id is None:
            raise RuntimeError("container not started — call start() first")
        # docker.rs:86-91: exec -i <id12> /bin/bash -c <cmd>
        return self.runner.run(
            ["exec", "-i", self.container_id, "/bin/bash", "-c", cmd],
            stdin=stdin)

    def write(self, payload: bytes) -> None:
        """Pipe the restore payload through the engine client."""
        if self.spec.strip_trailing_nul and payload.endswith(b"\x00"):
            # mongodb_docker.rs:71 — mongorestore rejects the archive's
            # trailing NUL terminator on stdin
            payload = payload[:-1]
        rc, _, err = self._exec(self.spec.client_cmd, stdin=payload)
        if rc != 0:
            raise RuntimeError(
                f"restore pipe failed (rc={rc}): "
                f"{err.decode(errors='replace')}")

    def stop(self) -> None:
        if self.container_id:
            self.runner.run(["stop", self.container_id])

    def rm(self) -> None:
        if self.container_id:
            self.runner.run(["rm", "-f", self.container_id])
            self.container_id = None


# -- engine recipes (reference constants) -------------------------------------

PG_USER, PG_PASSWORD, PG_DB = "postgres", "password", "postgres"
MYSQL_PASSWORD = "password"
MONGO_USER, MONGO_PASSWORD = "root", "password"


def postgres_docker(host_port: int = 5432, tag: str = "13",
                    runner: "DockerRunner | None" = None,
                    **kw) -> DockerDestination:
    """postgres_docker.rs:10-15 image/env; write() pipes through psql
    (postgres_docker.rs:60-64)."""
    return DockerDestination(ContainerSpec(
        image="postgres", tag=tag, container_port=5432,
        env={"POSTGRES_USER": PG_USER, "POSTGRES_PASSWORD": PG_PASSWORD},
        client_cmd=(f"PGPASSWORD={PG_PASSWORD} psql --username {PG_USER} "
                    f"--quiet --set ON_ERROR_STOP=1 {PG_DB}"),
        probe_cmd=f"pg_isready --username {PG_USER} --dbname {PG_DB}",
    ), host_port, runner, **kw)


def mysql_docker(host_port: int = 3306, tag: str = "8",
                 runner: "DockerRunner | None" = None,
                 **kw) -> DockerDestination:
    """mysql_docker.rs:10-13 image/env + the mysqld native-password
    command (mysql_docker.rs:46-49)."""
    return DockerDestination(ContainerSpec(
        image="mysql", tag=tag, container_port=3306,
        env={"MYSQL_ROOT_PASSWORD": MYSQL_PASSWORD,
             "MYSQL_DATABASE": "db"},
        command=["mysqld",
                 "--default-authentication-plugin=mysql_native_password"],
        # -h 127.0.0.1 on BOTH probe and client: the mysql entrypoint's
        # temporary bootstrap server (init phase) runs --skip-networking,
        # so a TCP probe only ever reaches the REAL server — a socket
        # `mysqladmin ping` would report ready during init and the pipe
        # would race the entrypoint's server restart (the failure the
        # reference's fixed 20 s sleep papered over)
        client_cmd=f"mysql -h 127.0.0.1 -u root -p{MYSQL_PASSWORD} db",
        probe_cmd=(f"mysql -h 127.0.0.1 -u root -p{MYSQL_PASSWORD} "
                   f"-e 'SELECT 1' db"),
    ), host_port, runner, **kw)


def mongo_docker(host_port: int = 27017, tag: str = "5",
                 runner: "DockerRunner | None" = None,
                 **kw) -> DockerDestination:
    """mongodb_docker.rs:10-14 image/env; write() pipes a mongodump
    ARCHIVE through mongorestore (mongodb_docker.rs:58-76, including the
    trailing-NUL strip)."""
    return DockerDestination(ContainerSpec(
        image="mongo", tag=tag, container_port=27017,
        env={"MONGO_INITDB_ROOT_USERNAME": MONGO_USER,
             "MONGO_INITDB_ROOT_PASSWORD": MONGO_PASSWORD},
        client_cmd=(f"mongorestore --authenticationDatabase admin "
                    f"-u {MONGO_USER} -p {MONGO_PASSWORD} --archive"),
        probe_cmd=(f"mongosh --quiet -u {MONGO_USER} -p {MONGO_PASSWORD} "
                   f"--eval 'db.runCommand({{ping: 1}})'"),
        strip_trailing_nul=True,
    ), host_port, runner, **kw)


# -- payload rendering ---------------------------------------------------------

_PG_TYPES = {"bigint": "BIGINT", "int": "INTEGER", "smallint": "SMALLINT",
             "tinyint": "SMALLINT", "double": "DOUBLE PRECISION",
             "float": "REAL", "string": "TEXT", "boolean": "BOOLEAN",
             "date": "DATE", "binary": "BYTEA"}
_MYSQL_TYPES = dict(_PG_TYPES, **{"double": "DOUBLE", "float": "FLOAT",
                                  "binary": "BLOB"})


def _sql_type(simple: str, dialect: str) -> str:
    table = _PG_TYPES if dialect == "postgres" else _MYSQL_TYPES
    if simple.startswith("decimal"):
        return simple.upper()
    if simple.startswith("timestamp"):
        return "TIMESTAMP"
    return table.get(simple, "TEXT")


def render_sql_payload(tables: "dict[str, DataFrame]",
                       dialect: str = "postgres",
                       wipe: bool = True) -> bytes:
    """DDL + INSERTs for every table as one SQL byte stream — what the
    container's client executes off stdin.  Statement rendering (typed
    literal encoding, quoting) reuses the sqldump sink's row encoder, so
    the pipe and the .sql sink stay literally one implementation."""
    from .sqldump_sink import to_insert_statements

    if dialect == "postgres":
        out: "list[str]" = ["BEGIN;"]
    else:
        # the INSERT literals are encoded with standard SQL quote-doubling
        # (sqldump_sink._value_expr); MySQL's default mode ALSO treats
        # backslash as an escape, which would silently corrupt any value
        # containing one ('C:\tmp' → 'C:<TAB>mp') and break the stream on
        # a trailing backslash — pin the session to standard literals
        out = ["SET SESSION sql_mode = 'NO_BACKSLASH_ESCAPES';",
               "START TRANSACTION;"]
    for t, df in tables.items():
        cols = ", ".join(
            f"{f.name} {_sql_type(f.dataType.simpleString(), dialect)}"
            for f in df.schema.fields)
        if wipe:
            out.append(f"DROP TABLE IF EXISTS {t};")
        out.append(f"CREATE TABLE {'' if wipe else 'IF NOT EXISTS '}"
                   f"{t} ({cols});")
        # bounded by the dev-seeding use case — the reference pipes the
        # whole dump through one stdin as well
        out.extend(r["stmt"] for r in
                   to_insert_statements(df, t).collect())
    out.append("COMMIT;")
    return ("\n".join(out) + "\n").encode()


# engine name → (image tag default, container/host port default) — ONE
# place for the reference constants; both CLI spellings accepted
ENGINE_DEFAULTS = {"postgres": ("13", 5432), "postgresql": ("13", 5432),
                   "mysql": ("8", 3306), "mongodb": ("5", 27017)}


def destination_for(engine: str, host_port: "int | None" = None,
                    tag: "str | None" = None,
                    runner: "DockerRunner | None" = None,
                    **kw) -> DockerDestination:
    """The engine's destination with reference-default tag/port where not
    given.  `engine` accepts 'postgres'/'postgresql'/'mysql'/'mongodb'."""
    if engine not in ENGINE_DEFAULTS:
        raise ValueError(f"unknown docker destination engine: {engine} "
                         f"(expected postgresql | mysql | mongodb)")
    d_tag, d_port = ENGINE_DEFAULTS[engine]
    tag, host_port = tag or d_tag, host_port or d_port
    if engine in ("postgres", "postgresql"):
        return postgres_docker(host_port, tag, runner, **kw)
    if engine == "mysql":
        return mysql_docker(host_port, tag, runner, **kw)
    return mongo_docker(host_port, tag, runner, **kw)


def restore_into_container(tables: "dict[str, DataFrame]",
                           dest: DockerDestination,
                           dialect: str = "postgres",
                           wipe: bool = True,
                           keep_container: bool = True) -> str:
    """End-to-end K4: start the container, pipe the dump through the
    engine client, and leave the container running for the developer
    (or stop+rm it with ``keep_container=False``).  A failed pipe always
    stops and removes it.  Returns the container id.

    `dialect` is the engine ('postgres' | 'postgresql' | 'mysql' |
    'mongodb') and picks the payload: DDL + INSERTs for the SQL engines
    (``wipe`` drops each table first), a mongodump archive
    (sources/mongo_archive's byte-exact re-serializer) for mongodb."""
    if dialect == "mongodb":
        from ..sources.mongo_archive import build_archive

        payload = build_archive(
            {t: [r.asDict(recursive=True) for r in df.collect()]
             for t, df in tables.items()})
    else:
        payload = render_sql_payload(
            tables, dialect="mysql" if dialect == "mysql" else "postgres",
            wipe=wipe)
    cid = dest.start()
    try:
        dest.write(payload)
    except Exception:
        dest.stop()
        dest.rm()
        raise
    if not keep_container:
        dest.stop()
        dest.rm()
    return cid
