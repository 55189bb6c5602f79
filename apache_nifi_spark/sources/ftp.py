"""ListFTP / FetchFTP closed for real (SURVEY.md §2.1 — the last
connector row that was pattern-only after round 5's AMQP work).

NiFi's ListFTP runs on the primary node and emits one FlowFile per
remote file; FetchFTP then pulls the bytes.  The Spark-first shape keeps
that split exactly:

- **listing is control-plane**: one driver-side FTP session walks the
  remote directory (O(files) metadata, like a ListFile/ListS3 manifest)
  and becomes a small DataFrame of (path, size);
- **fetching is data-plane and DISTRIBUTED**: ``fetch_ftp`` maps the
  listing through ``io.with_columns`` — each PARTITION opens one ftplib
  connection (TCP/login amortized across its files, the InvokeHTTP
  keep-alive pattern) and RETRs its files; partitions fan out across
  executors, so aggregate throughput scales with the cluster, subject to
  the server's connection limit (bound it with ``repartition(n)``).

The environment has no FTP daemon, so ``MiniFtpServer`` implements the
protocol subset a transfer needs (RFC 959: USER/PASS, TYPE, PWD/CWD,
PASV, LIST/NLST, SIZE, RETR, STOR, DELE, QUIT) as a stdlib
``StreamRequestHandler`` with passive-mode data channels — the CLIENT side is
stdlib ``ftplib``, i.e. the same wire bytes a real deployment sees.
Tests drive a full store→list→fetch differential; the registry query
oracles a fetch-parse-aggregate pipeline against the staged fixture.
"""

from __future__ import annotations

import io as _io
import os
import socket
import socketserver

from pyspark.sql import DataFrame, SparkSession

from apache_nifi_spark import net
from apache_nifi_spark.io import with_columns

__all__ = ["MiniFtpServer", "list_ftp", "fetch_ftp", "put_ftp"]


# ------------------------------------------------------------- server ------

class _FtpHandler(socketserver.StreamRequestHandler):
    """One FTP control connection (RFC 959 subset, passive mode only)."""

    root: str  # set per server by MiniFtpServer

    def _reply(self, code: int, text: str) -> None:
        self.wfile.write(f"{code} {text}\r\n".encode())

    def _open_pasv(self) -> socket.socket:
        lsock = net.listen()
        lsock.settimeout(10)
        p = lsock.getsockname()[1]
        self._reply(227, f"Entering Passive Mode (127,0,0,1,{p >> 8},{p & 255})")
        return lsock

    def _safe(self, name: str) -> str:
        root = self.root
        path = os.path.normpath(os.path.join(root, self.cwd.lstrip("/"), name))
        if not path.startswith(os.path.abspath(root)):
            raise PermissionError(name)
        return path

    def handle(self) -> None:  # noqa: C901 — a protocol switch is a switch
        self.cwd = "/"
        pasv: socket.socket | None = None
        self._reply(220, "MiniFtpServer ready")
        for raw in self.rfile:
            parts = raw.decode("latin-1").rstrip("\r\n").split(" ", 1)
            cmd, arg = parts[0].upper(), (parts[1] if len(parts) > 1 else "")
            try:
                if cmd == "USER":
                    self._reply(331, "any password")
                elif cmd == "PASS":
                    self._reply(230, "logged in")
                elif cmd in ("SYST",):
                    self._reply(215, "UNIX Type: L8")
                elif cmd == "TYPE":
                    self._reply(200, f"type {arg}")
                elif cmd == "PWD":
                    self._reply(257, f'"{self.cwd}"')
                elif cmd == "CWD":
                    self.cwd = arg if arg.startswith("/") else os.path.join(self.cwd, arg)
                    self._reply(250, "ok")
                elif cmd == "PASV":
                    pasv = self._open_pasv()
                elif cmd in ("LIST", "NLST"):
                    if pasv is None:
                        self._reply(425, "use PASV first")
                        continue
                    d = self._safe(arg or ".")
                    names = sorted(os.listdir(d)) if os.path.isdir(d) else [os.path.basename(d)]
                    self._reply(150, "listing")
                    conn, _ = pasv.accept()
                    with conn:
                        for n in names:
                            full = os.path.join(d, n)
                            line = (
                                n
                                if cmd == "NLST"
                                else f"-rw-r--r-- 1 ftp ftp {os.path.getsize(full)} Jan  1 00:00 {n}"
                            )
                            conn.sendall((line + "\r\n").encode())
                    pasv.close()
                    pasv = None
                    self._reply(226, "done")
                elif cmd == "SIZE":
                    self._reply(213, str(os.path.getsize(self._safe(arg))))
                elif cmd == "RETR":
                    if pasv is None:
                        self._reply(425, "use PASV first")
                        continue
                    with open(self._safe(arg), "rb") as f:
                        data = f.read()
                    self._reply(150, "sending")
                    conn, _ = pasv.accept()
                    with conn:
                        conn.sendall(data)
                    pasv.close()
                    pasv = None
                    self._reply(226, "done")
                elif cmd == "STOR":
                    if pasv is None:
                        self._reply(425, "use PASV first")
                        continue
                    self._reply(150, "receiving")
                    conn, _ = pasv.accept()
                    buf = _io.BytesIO()
                    with conn:
                        while chunk := conn.recv(65536):
                            buf.write(chunk)
                    path = self._safe(arg)
                    os.makedirs(os.path.dirname(path), exist_ok=True)
                    with open(path, "wb") as f:
                        f.write(buf.getvalue())
                    pasv.close()
                    pasv = None
                    self._reply(226, "stored")
                elif cmd == "DELE":
                    os.remove(self._safe(arg))
                    self._reply(250, "deleted")
                elif cmd == "QUIT":
                    self._reply(221, "bye")
                    return
                else:
                    self._reply(502, f"{cmd} not implemented")
            except FileNotFoundError:
                self._reply(550, "no such file")
            except PermissionError:
                self._reply(550, "outside root")


class MiniFtpServer(net.Server):
    """In-process FTP daemon over a root directory (threaded, PASV)."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)

        class Handler(_FtpHandler):
            root = self.root

        super().__init__(Handler)


# ----------------------------------------------------------- operators -----

def list_ftp(
    spark: SparkSession, host: str, port: int, path: str = "/"
) -> DataFrame:
    """ListFTP: one control-plane FTP session lists the remote dir into a
    (filename, size) DataFrame — the primary-node listing manifest."""
    import ftplib

    ftp = ftplib.FTP()
    ftp.connect(host, port, timeout=10)
    ftp.login()
    ftp.cwd(path)
    names = ftp.nlst()
    rows = [(n, ftp.size(n)) for n in names]
    ftp.quit()
    return spark.createDataFrame(rows, "filename string, size long")


def fetch_ftp(
    listing: DataFrame,
    host: str,
    port: int,
    path: str = "/",
    out_col: str = "content",
) -> DataFrame:
    """FetchFTP: RETR each listed file's bytes, one ftplib connection per
    PARTITION (login/TCP amortized; partitions fan out across executors).
    Appends ``content: binary``; transport failures surface as NULL
    content (route-on-null downstream, RetryFlowFile semantics)."""
    def run(batches):
        import ftplib

        ftp = ftplib.FTP()
        ftp.connect(host, port, timeout=10)
        ftp.login()
        ftp.cwd(path)
        try:
            for (names,) in batches:
                out = []
                for name in names:
                    buf = _io.BytesIO()
                    try:
                        ftp.retrbinary(f"RETR {name}", buf.write)
                        out.append(buf.getvalue())
                    except ftplib.all_errors:
                        out.append(None)
                yield out,
        finally:
            try:
                ftp.quit()
            except Exception:
                pass

    return with_columns(listing, ["filename"], run, f"`{out_col}` binary")


def put_ftp(
    df: DataFrame,
    host: str,
    port: int,
    path: str = "/",
    name_col: str = "filename",
    content_col: str = "content",
) -> DataFrame:
    """PutFTP [2.7.2-surface]: STOR each record's bytes as one remote
    file, one ftplib connection per PARTITION (the FetchFTP shape in the
    write direction).  Appends ``stored``; failures route instead of
    failing the task."""
    def run(batches):
        import ftplib

        ftp = ftplib.FTP()
        ftp.connect(host, port, timeout=10)
        ftp.login()
        ftp.cwd(path)
        try:
            for names, blobs in batches:
                ok = []
                for name, blob in zip(names, blobs):
                    if name is None or blob is None:
                        ok.append(False)
                        continue
                    data = blob if isinstance(blob, bytes) else str(blob).encode()
                    try:
                        ftp.storbinary(f"STOR {name}", _io.BytesIO(bytes(data)))
                        ok.append(True)
                    except ftplib.all_errors:
                        ok.append(False)
                yield ok,
        finally:
            try:
                ftp.quit()
            except Exception:
                pass

    return with_columns(df, [name_col, content_col], run, "stored boolean")
