"""DuckDB, the sql_analytics oracle, in a process of its own.

The server side (``python3 -m perfbench.oracle``) reads pickled SQL
strings from stdin and answers each with a pickled ``("ok", rows)`` or
``("error", message)``.  Keeping DuckDB out of the benchmark's process
keeps its memory out of ``memory.peak_rss_mb``, which is meant to cover
the program only.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys


class Oracle:
    """Client of one oracle process; ``close`` ends it and waits."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.oracle"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )

    def query(self, sql: str) -> list[tuple]:
        pickle.dump(sql, self.proc.stdin)
        self.proc.stdin.flush()
        status, value = pickle.load(self.proc.stdout)
        if status != "ok":
            raise RuntimeError(f"oracle: {value}")
        return value

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


def serve() -> None:
    import duckdb

    # replies go to a private copy of stdout; anything else written
    # to fd 1 lands on stderr instead of corrupting the stream
    out = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    con = duckdb.connect(config={"threads": 2, "memory_limit": "512MB"})
    while True:
        try:
            sql = pickle.load(sys.stdin.buffer)
        except EOFError:
            return
        try:
            reply = ("ok", con.execute(sql).fetchall())
        except Exception as exc:  # reported to the client, which fails the op
            reply = ("error", f"{type(exc).__name__}: {exc}")
        pickle.dump(reply, out)
        out.flush()


if __name__ == "__main__":
    serve()
