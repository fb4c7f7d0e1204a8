"""The DuckDB reference for the output checks, in a process of its own.

The driver never imports duckdb, so the checks add nothing to the driver's
memory, and ``run.py``'s memory sampler skips this process: ``peak_rss_mb``
is the program's alone. ``RefDB`` starts ``python3 refdb.py``, sends one
SQL statement per line and reads the rows back as one JSON line (floats
round-trip exactly through JSON).
"""

from __future__ import annotations

import json
import subprocess
import sys


class RefDB:
    def __init__(self):
        self.proc = subprocess.Popen([sys.executable, __file__], stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, text=True)
        self.pid = self.proc.pid

    def query(self, sql: str) -> list[tuple]:
        self.proc.stdin.write(json.dumps(sql) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("the DuckDB reference process exited")
        reply = json.loads(line)
        if "error" in reply:
            raise RuntimeError(f"DuckDB: {reply['error']}")
        return [tuple(r) for r in reply["rows"]]

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def serve() -> None:
    import duckdb

    con = duckdb.connect(config={"memory_limit": "256MB", "threads": 1})
    for line in sys.stdin:
        try:
            reply = json.dumps({"rows": con.execute(json.loads(line)).fetchall()})
        except (duckdb.Error, TypeError) as e:  # TypeError: a value JSON cannot hold
            reply = json.dumps({"error": str(e)})
        sys.stdout.write(reply + "\n")
        sys.stdout.flush()


if __name__ == "__main__":
    serve()
