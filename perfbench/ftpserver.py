"""The benchmark's FTP server: the test stub server plus the properties a
benchmark needs from a server.

- ``TCP_NODELAY`` on every accepted control socket. The stub answers a
  transfer with a ``150`` reply, the data, then ``226``; without
  ``TCP_NODELAY`` the ``226`` waits on Nagle's algorithm until the client's
  delayed ACK for the ``150`` arrives, which adds tens of milliseconds to
  every transfer and would hide any change in the program.
- A fixed delay before every reply, standing in for the round trip to a
  remote server. On loopback every command is nearly free, which hides
  exactly the per-entry round trips the pipelines pay.
- Counters: commands per verb, logins, data connections, error replies,
  payload bytes in and out over data connections (control lines are
  counted as commands; their length varies with the passive port number),
  time spent handling commands, and the peak number of concurrent sessions.
"""

from __future__ import annotations

import os
import socket
import sys
import threading
import time
from collections import Counter

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from tests.ftp_stub_server import FtpStubServer, _Session  # noqa: E402


class _CountingData:
    """Data-connection socket that counts the payload bytes it carries.

    Covers the calls the stub's verbs make on a data connection:
    ``sendall``, ``recv``, ``makefile("wb")`` (writes go straight to
    ``sendall``) and ``close``."""

    def __init__(self, sock: socket.socket, server: "BenchFtpServer"):
        self._sock = sock
        self._server = server

    def sendall(self, data: bytes) -> None:
        self._sock.sendall(data)
        self._server.count("bytes_sent", len(data))

    def write(self, data: bytes) -> int:
        self.sendall(data)
        return len(data)

    def makefile(self, mode: str = "wb"):
        return self

    def recv(self, n: int) -> bytes:
        data = self._sock.recv(n)
        self._server.count("bytes_received", len(data))
        return data

    def close(self) -> None:
        self._sock.close()


class _BenchSession(_Session):
    def __init__(self, conn: socket.socket, server: "BenchFtpServer"):
        conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        super().__init__(conn, server)
        self.replies = 0  # replies sent; only this session's thread sends

    def run(self) -> None:
        self.server.session_started()
        try:
            super().run()
        finally:
            self.server.session_ended()

    def send(self, code: int, text: str) -> None:
        if self.server.reply_delay_s:
            time.sleep(self.server.reply_delay_s)
        self.conn.sendall(f"{code} {text}\r\n".encode())
        self.replies += 1
        if code >= 400:
            self.server.count("error_replies")
        if code == 230:
            self.server.count("logins")

    def dispatch(self, line: str) -> bool:
        verb = line.partition(" ")[0].upper()
        self.server.count("commands")
        self.server.count(f"verb.{verb}")
        t0 = time.perf_counter()
        replies_before = self.replies
        try:
            return super().dispatch(line)
        finally:
            spent = time.perf_counter() - t0
            delayed = (self.replies - replies_before) * self.server.reply_delay_s
            self.server.add_busy(max(0.0, spent - delayed))

    def open_data(self):
        data = super().open_data()
        if data is None:
            return None
        self.server.count("data_conns")
        return _CountingData(data, self.server)


class BenchFtpServer(FtpStubServer):
    """``FtpStubServer`` with a per-reply delay and counters.

    ``stats()`` returns a snapshot of the counters; ``reset()`` zeroes
    them. Use as a context manager, like the stub."""

    def __init__(self, root: str, users: dict[str, str], reply_delay_s: float = 0.0):
        super().__init__(root, users)
        self.reply_delay_s = reply_delay_s
        self._lock = threading.Lock()
        self._counts: Counter = Counter()
        self._busy_s = 0.0
        self._active = 0
        self._peak = 0

    def _accept_loop(self) -> None:
        while True:
            try:
                conn, _ = self._listener.accept()
            except OSError:
                return  # listener closed
            _BenchSession(conn, self).start()

    def count(self, key: str, n: int = 1) -> None:
        with self._lock:
            self._counts[key] += n

    def add_busy(self, seconds: float) -> None:
        with self._lock:
            self._busy_s += seconds

    def session_started(self) -> None:
        with self._lock:
            self._active += 1
            self._peak = max(self._peak, self._active)

    def session_ended(self) -> None:
        with self._lock:
            self._active -= 1

    def reset(self) -> None:
        with self._lock:
            self._counts.clear()
            self._busy_s = 0.0
            self._peak = self._active

    def stats(self) -> dict:
        with self._lock:
            out = dict(self._counts)
            out["server_busy_s"] = self._busy_s
            out["peak_sessions"] = self._peak
        return out
