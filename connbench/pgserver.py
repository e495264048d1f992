"""Throwaway PostgreSQL 15 server for one benchmark run.

The server runs as the `postgres` OS user (PostgreSQL refuses to run as
root), listens on 127.0.0.1 with trust auth, and is stopped and deleted
on every exit path: normal return, exception, SIGTERM and SIGINT.

Fixed configuration (stated so runs are comparable):
  shared_buffers = 128MB, fsync = on, synchronous_commit = on,
  autovacuum = off (every load is followed by an explicit
  VACUUM ANALYZE, so relpages -- which sets the ctid range count --
  and the visibility map are identical on every run, and no
  background vacuum adds server CPU to a timed phase).
"""
import atexit
import os
import pwd
import shutil
import signal
import socket
import subprocess
import tempfile
import time

PG_BIN_DIRS = ["/usr/lib/postgresql/15/bin"]

FIXED_CONF = {
    "listen_addresses": "'127.0.0.1'",
    "shared_buffers": "128MB",
    "fsync": "on",
    "synchronous_commit": "on",
    "autovacuum": "off",
    "max_connections": "40",
    "max_wal_size": "2GB",
    "track_counts": "on",
    "logging_collector": "off",
}


class ServerUnavailable(Exception):
    """The PostgreSQL binaries or the `postgres` user are missing."""


def find_bin_dir():
    env = os.environ.get("CONNBENCH_PG_BIN")
    for d in ([env] if env else []) + PG_BIN_DIRS:
        if d and os.path.isfile(os.path.join(d, "postgres")):
            return d
    raise ServerUnavailable(
        "PostgreSQL 15 binaries not found (looked in %s; set CONNBENCH_PG_BIN)"
        % ", ".join(PG_BIN_DIRS))


def _free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class PgServer:
    def __init__(self, workdir, preload_stat_statements=False):
        self.bin = find_bin_dir()
        self.as_root = os.geteuid() == 0
        if self.as_root:
            try:
                pw = pwd.getpwnam("postgres")
            except KeyError:
                raise ServerUnavailable("no 'postgres' OS user to run the server as")
            self.uid, self.gid = pw.pw_uid, pw.pw_gid
        self.preload = preload_stat_statements
        self.port = _free_port()
        self.datadir = self._make_datadir(workdir)
        self.postmaster_pid = None
        self.psql_sessions = 0  # sessions this harness opened, for pg_stat_database
        self._stopped = False
        atexit.register(self.stop)
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, self._on_signal)

    # -- lifecycle ----------------------------------------------------- #

    def _as_pg(self, argv):
        return (["runuser", "-u", "postgres", "--"] + argv) if self.as_root else argv

    def _make_datadir(self, workdir):
        """A data directory inside the run's work dir when the server user
        can reach it; otherwise (a parent directory is closed to it) a
        private temporary directory, deleted on exit like the other."""
        os.makedirs(workdir, exist_ok=True)
        d = tempfile.mkdtemp(prefix="pg-", dir=workdir)
        if self._usable(d):
            return d
        shutil.rmtree(d, ignore_errors=True)
        d = tempfile.mkdtemp(prefix="connbench-pg-")
        if not self._usable(d):
            shutil.rmtree(d, ignore_errors=True)
            raise ServerUnavailable("no directory the postgres user can write to")
        return d

    def _usable(self, d):
        if self.as_root:
            os.chown(d, self.uid, self.gid)
        os.chmod(d, 0o700)
        r = subprocess.run(self._as_pg(["test", "-w", d, "-a", "-x", d]),
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        return r.returncode == 0

    def start(self):
        subprocess.run(
            self._as_pg([os.path.join(self.bin, "initdb"), "-D", self.datadir,
                         "-A", "trust", "-U", "postgres", "-E", "UTF8",
                         "--locale=C", "--no-sync"]),
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
        conf = dict(FIXED_CONF, port=str(self.port),
                    unix_socket_directories="'%s'" % self.datadir)
        if self.preload:
            conf["shared_preload_libraries"] = "'pg_stat_statements'"
            conf["pg_stat_statements.track"] = "all"
        with open(os.path.join(self.datadir, "postgresql.auto.conf"), "a") as f:
            for k, v in conf.items():
                f.write("%s = %s\n" % (k, v))
        subprocess.run(
            self._as_pg([os.path.join(self.bin, "pg_ctl"), "-D", self.datadir,
                         "-l", os.path.join(self.datadir, "server.log"),
                         "-w", "-t", "60", "start"]),
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
        with open(os.path.join(self.datadir, "postmaster.pid")) as f:
            self.postmaster_pid = int(f.readline())
        self.psql("CREATE DATABASE bench", db="postgres")
        if self.preload:
            self.psql("CREATE EXTENSION pg_stat_statements")

    def stop(self):
        if self._stopped:
            return
        self._stopped = True
        try:
            if self.postmaster_pid is not None:
                subprocess.run(
                    self._as_pg([os.path.join(self.bin, "pg_ctl"), "-D", self.datadir,
                                 "-m", "immediate", "-w", "-t", "60", "stop"]),
                    stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=90)
                self._wait_gone(self.postmaster_pid)
        finally:
            shutil.rmtree(self.datadir, ignore_errors=True)

    @staticmethod
    def _wait_gone(pid, timeout=30.0):
        end = time.time() + timeout
        while time.time() < end:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def _on_signal(self, signum, frame):
        self.stop()
        raise SystemExit(128 + signum)

    # -- access -------------------------------------------------------- #

    @property
    def dsn(self):
        return "tcp:127.0.0.1:%d/bench?user=postgres" % self.port

    def psql_argv(self, db="bench"):
        return [os.path.join(self.bin, "psql"), "-X", "-q", "-v", "ON_ERROR_STOP=1",
                "-h", "127.0.0.1", "-p", str(self.port), "-U", "postgres", "-d", db]

    def psql(self, sql, db="bench"):
        """Run SQL; return the rows as lists of strings (unaligned, tab-separated)."""
        self.psql_sessions += 1
        r = subprocess.run(self.psql_argv(db) + ["-A", "-t", "-F", "\t", "-c", sql],
                           check=True, capture_output=True, text=True)
        return [line.split("\t") for line in r.stdout.splitlines() if line != ""]

    def copy_in(self, table, csv_path):
        subprocess.run(self.psql_argv() + ["-c", "\\copy %s FROM '%s' WITH (FORMAT csv)"
                                           % (table, csv_path)],
                       check=True, capture_output=True, text=True)

    # -- outside-in counters (server CPU is read by the JVM driver) ----- #

    def client_backends(self):
        """Server processes serving a TCP client connection."""
        n = 0
        for pid in self._children():
            try:
                with open("/proc/%d/cmdline" % pid, "rb") as f:
                    if b"127.0.0.1(" in f.read():
                        n += 1
            except (FileNotFoundError, ProcessLookupError):
                pass
        return n

    def _children(self):
        kids = []
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open("/proc/%s/stat" % name) as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (FileNotFoundError, ProcessLookupError, IndexError):
                continue
            if ppid == self.postmaster_pid:
                kids.append(int(name))
        return kids

    def stat_snapshot(self):
        """Counters from pg_stat_database / pg_stat_wal (cumulative)."""
        row = self.psql(
            "SELECT blks_read, blks_hit, sessions, (SELECT wal_bytes FROM pg_stat_wal)"
            " FROM pg_stat_database WHERE datname = 'bench'")[0]
        snap = {k: float(v) for k, v in zip(["blks_read", "blks_hit", "sessions", "wal_bytes"], row)}
        # the reading session itself is counted; so are all earlier psql runs
        snap["own_sessions"] = float(self.psql_sessions)
        return snap
