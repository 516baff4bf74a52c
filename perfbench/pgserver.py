"""A throwaway local PostgreSQL server for the ``pg_migrate`` workload.

The server runs as the ``postgres`` OS user (PostgreSQL refuses to run
as root), with ``initdb -A trust``, a Unix socket only (no TCP listener)
and a free port number for the socket name. Its data directory lives
under the benchmark's work directory when the ``postgres`` user can
reach it, and otherwise under the system temp directory (a checkout
below a mode-700 home directory is unreachable for that user). Either
way ``stop()`` kills it with ``pg_ctl -m immediate stop`` and removes the
directory. Missing PostgreSQL binaries raise ``RuntimeError``: the
workload fails loudly rather than being skipped.
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess
import tempfile

_BINARIES = ("initdb", "pg_ctl", "psql", "postgres")


def _as_postgres(cmd: list[str], timeout: int = 120) -> subprocess.CompletedProcess:
    if os.geteuid() == 0:
        cmd = ["runuser", "-u", "postgres", "--", *cmd]
    return subprocess.run(cmd, capture_output=True, text=True, cwd="/", timeout=timeout)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _reachable(path: str) -> bool:
    return _as_postgres(["test", "-w", path]).returncode == 0


class LocalPg:
    def __init__(self, work_dir: str) -> None:
        missing = [b for b in _BINARIES if shutil.which(b) is None]
        if missing:
            raise RuntimeError(f"PostgreSQL binaries not found on PATH: {missing}")
        base = tempfile.mkdtemp(prefix="pg-", dir=work_dir)
        if os.geteuid() == 0:
            shutil.chown(base, "postgres", "postgres")
        if not _reachable(base):
            shutil.rmtree(base)
            base = tempfile.mkdtemp(prefix="perfbench-pg-",
                                    dir=os.environ.get("PERFBENCH_SYSTEM_TMP"))
            if os.geteuid() == 0:
                shutil.chown(base, "postgres", "postgres")
        self.base = base
        self.port = _free_port()
        self.data = os.path.join(base, "data")
        self.started = False

    def start(self) -> None:
        r = _as_postgres(["initdb", "-D", self.data, "-A", "trust", "-U", "postgres"])
        if r.returncode != 0:
            raise RuntimeError(f"initdb failed: {r.stderr[-500:]}")
        opts = f"-p {self.port} -k {self.base} -c listen_addresses= -c fsync=off"
        r = _as_postgres(["pg_ctl", "-D", self.data, "-o", opts, "-w",
                          "-l", os.path.join(self.base, "pg.log"), "start"])
        if r.returncode != 0:
            raise RuntimeError(f"pg_ctl start failed: {r.stderr[-500:]}")
        self.started = True

    def stop(self) -> None:
        try:
            if self.started:
                _as_postgres(["pg_ctl", "-D", self.data, "-m", "immediate", "-w", "stop"])
                self.started = False
        finally:
            shutil.rmtree(self.base, ignore_errors=True)
