"""A throwaway PostgreSQL cluster inside the benchmark's work directory.

The server refuses to run as root, so ``initdb``/``pg_ctl``/``postgres``
run as the ``postgres`` user.  They are started through ``setpriv``
rather than ``runuser`` so that they can also keep the one capability
needed to reach a work directory under a root-only parent
(CAP_DAC_READ_SEARCH) — no permission outside the checkout changes.
Clients connect over a unix socket only; when the socket path would
exceed the kernel's limit the server listens on 127.0.0.1 instead.

Server settings are the defaults, including the flush policy: fsync
and synchronous_commit stay on, and ``start`` checks that they are.
Only autovacuum is off, so no background vacuum lands inside a timed
import or shifts the per-op WAL and commit counts.
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess
import time

from parquet_to_sql_spark.sinks import pg_wire

_AS_POSTGRES = [
    "setpriv", "--reuid=postgres", "--regid=postgres", "--init-groups",
    "--inh-caps=+dac_read_search", "--ambient-caps=+dac_read_search", "--",
]
_SOCKET_PATH_MAX = 107
FLUSH_POLICY = {"fsync": "on", "synchronous_commit": "on"}


def _as_postgres(*argv: str) -> None:
    subprocess.run([*_AS_POSTGRES, *argv], check=True, capture_output=True, timeout=60)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class PgCluster:
    def __init__(self, base: str):
        self.base = base
        self.data = os.path.join(base, "data")
        self.sock = os.path.join(base, "s")
        self.dsn = ""

    def start(self) -> None:
        if not shutil.which("initdb") or not shutil.which("setpriv"):
            raise RuntimeError("postgres server binaries or setpriv not found")
        os.makedirs(self.sock)
        shutil.chown(self.base, "postgres")
        shutil.chown(self.sock, "postgres")
        _as_postgres("initdb", "-D", self.data, "-U", "postgres", "--auth=trust", "-E", "UTF8")
        if len(os.path.join(self.sock, ".s.PGSQL.5432")) <= _SOCKET_PATH_MAX:
            port, listen = 5432, f"-c listen_addresses='' -k {self.sock}"
            self.dsn = f"host={self.sock} port={port} user=postgres dbname=postgres"
        else:
            port = _free_port()
            listen = f"-c listen_addresses=127.0.0.1 -c unix_socket_directories='' -p {port}"
            self.dsn = f"host=127.0.0.1 port={port} user=postgres dbname=postgres"
        _as_postgres(
            "pg_ctl", "-D", self.data, "-w", "-l", os.path.join(self.base, "log"),
            "-o", f"{listen} -c autovacuum=off", "start",
        )
        got = dict(self.query(
            "SELECT name, setting FROM pg_settings WHERE name IN ('fsync', 'synchronous_commit')"
        ))
        if got != FLUSH_POLICY:
            raise RuntimeError(f"flush policy {got} != {FLUSH_POLICY}")

    def query(self, sql: str) -> list[tuple]:
        conn = pg_wire.connect(self.dsn)
        try:
            cur = conn.cursor()
            cur.execute(sql)
            rows = cur.fetchall()
            conn.commit()
            return rows
        finally:
            conn.close()

    def stop(self) -> None:
        stop_stale(self.base)


def stop_stale(base: str) -> None:
    """Stop a server left running under ``base`` (no-op when none is)."""
    data = os.path.join(base, "data")
    if not os.path.exists(os.path.join(data, "postmaster.pid")):
        return
    subprocess.run(
        [*_AS_POSTGRES, "pg_ctl", "-D", data, "-m", "fast", "-w", "stop"],
        capture_output=True, timeout=60,
    )
    deadline = time.monotonic() + 30
    while os.path.exists(os.path.join(data, "postmaster.pid")) and time.monotonic() < deadline:
        time.sleep(0.1)
