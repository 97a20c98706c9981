"""Throwaway Postgres cluster and a persistent psql writer session.

The cluster is socket-only (``listen_addresses=''``) with trust auth,
booted from the server binaries on ``PATH`` (``initdb``/``pg_ctl``)
and run as the unprivileged ``postgres`` user when the benchmark runs
as root, since the server refuses to run as root. ``close()`` stops
the server and removes its directory; callers use it as a context
manager so every exit path (error, timeout signal) tears it down.
"""

from __future__ import annotations

import os
import pwd
import shutil
import subprocess
import tempfile
import time
from pathlib import Path

PG_PORT = "55433"  # socket-only; the port only names the socket file


class PgUnavailable(RuntimeError):
    """The Postgres binaries or the user to run them as are missing."""


def _as_server_user(cmd: list[str]) -> list[str]:
    if os.geteuid() != 0:
        return cmd
    return ["runuser", "-u", "postgres", "--", *cmd]


def _server_can_use(path: Path) -> bool:
    """Whether the server user can create files under ``path`` (the
    checkout may sit below a directory only root can traverse)."""
    if os.geteuid() != 0:
        return os.access(path, os.W_OK | os.X_OK)
    probe = subprocess.run(
        _as_server_user(["test", "-x", str(path)]), capture_output=True
    )
    return probe.returncode == 0


class PgCluster:
    """A scratch cluster: ``PgCluster(run_dir)`` boots it, ``dsn`` is
    the psql argument list, ``close()`` stops and deletes it."""

    def __init__(self, run_dir: Path) -> None:
        missing = [b for b in ("initdb", "pg_ctl", "psql") if not shutil.which(b)]
        if os.geteuid() == 0:
            if not shutil.which("runuser"):
                missing.append("runuser")
            try:
                pg_user = pwd.getpwnam("postgres")
            except KeyError:
                missing.append("user postgres")
        if missing:
            raise PgUnavailable("missing: " + ", ".join(missing))
        run_dir.mkdir(parents=True, exist_ok=True)
        # Inside the checkout when the server user can reach it and the
        # socket path fits the 107-byte limit of a unix socket address;
        # the system temp dir otherwise (removed again by close()).
        if _server_can_use(run_dir) and len(str(run_dir)) < 60:
            self.base = Path(tempfile.mkdtemp(prefix="pg_", dir=run_dir))
        else:
            self.base = Path(tempfile.mkdtemp(prefix="perfbench_pg_", dir="/tmp"))
        self.data = self.base / "data"
        self.sock = self.base / "sock"
        self.sock.mkdir()
        if os.geteuid() == 0:
            for p in (self.base, self.sock):
                os.chown(p, pg_user.pw_uid, pg_user.pw_gid)
        self._started = False
        try:
            subprocess.run(
                _as_server_user(
                    ["initdb", "-D", str(self.data), "-U", "postgres",
                     "--auth=trust", "--no-sync"]
                ),
                check=True, capture_output=True,
            )
            subprocess.run(
                _as_server_user(
                    ["pg_ctl", "-D", str(self.data), "-w", "-l",
                     str(self.base / "pg.log"), "-o",
                     f"-p {PG_PORT} -k {self.sock} -c listen_addresses='' "
                     "-c fsync=off -c synchronous_commit=off "
                     "-c full_page_writes=off",
                     "start"]
                ),
                check=True, capture_output=True,
            )
            self._started = True
            self.dsn = ["-h", str(self.sock), "-p", PG_PORT,
                        "-U", "postgres", "-d", "postgres"]
            deadline = time.monotonic() + 30
            while self.sql("SELECT 1") != "1":
                if time.monotonic() > deadline:
                    raise RuntimeError("scratch Postgres did not come up")
                time.sleep(0.1)
        except BaseException:
            self.close()
            raise

    def sql(self, sql: str, stdin: str | None = None) -> str:
        """Run one psql command; returns its unaligned tuples-only
        output. Raises on any SQL error."""
        out = subprocess.run(
            ["psql", *self.dsn, "-X", "-A", "-t", "-q",
             "-v", "ON_ERROR_STOP=1", "-c", sql],
            input=stdin, capture_output=True, text=True,
        )
        if out.returncode != 0:
            raise RuntimeError(f"psql failed: {out.stderr.strip()[:500]}")
        return out.stdout.strip()

    def close(self) -> None:
        if self._started:
            subprocess.run(
                _as_server_user(
                    ["pg_ctl", "-D", str(self.data), "-m", "immediate", "-w", "stop"]
                ),
                capture_output=True,
            )
            self._started = False
        shutil.rmtree(self.base, ignore_errors=True)

    def __enter__(self) -> "PgCluster":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class PsqlSession:
    """One persistent psql connection fed over a pipe, so that each
    transaction costs a round trip, not a process start.

    ``run(sql)`` sends the statements followed by a sentinel query and
    returns every output line printed before the sentinel; the
    sentinel is printed only after the preceding statements (a
    ``COMMIT`` included) have completed.
    """

    _SENTINEL = "__perfbench_done__"

    def __init__(self, dsn: list[str]) -> None:
        self.proc = subprocess.Popen(
            ["psql", *dsn, "-X", "-A", "-t", "-q", "-v", "ON_ERROR_STOP=1"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=subprocess.PIPE, text=True, bufsize=1,
        )

    def run(self, sql: str) -> list[str]:
        self.proc.stdin.write(f"{sql}\nSELECT '{self._SENTINEL}';\n")
        self.proc.stdin.flush()
        lines = []
        while True:
            line = self.proc.stdout.readline()
            if not line:
                err = self.proc.stderr.read()
                raise RuntimeError(f"psql session ended: {err.strip()[:500]}")
            line = line.rstrip("\n")
            if line == self._SENTINEL:
                return lines
            if line:
                lines.append(line)

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        for f in (self.proc.stdout, self.proc.stderr):
            f.close()
