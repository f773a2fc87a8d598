"""The ``WireBroker`` double in a process of its own.

In the driver process the broker's serving threads would compete for
the driver's interpreter lock, and its CPU could not be told apart from
the driver's. Here it runs in a child Python process started from this
file, and the benchmark talks to it over the child's stdin and stdout:

- ``restart()`` drops the old broker and its log, starts a fresh one
  and returns its port, so every timed produce starts from an empty log;
- ``digest(topic, needle)`` returns the counters and an 8-byte MD5 prefix of
  every stored key and value, which the benchmark compares with the
  records it expects. Only digests cross the pipe.

The child is a plain subprocess, not a ``multiprocessing`` one: that
would also start a resource-tracker process, which outlives the
benchmark by a moment after it exits. The child exits when its stdin
closes, so it cannot outlive the benchmark either.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import subprocess
import sys


def digest8(b: bytes | None) -> bytes:
    return hashlib.md5(b or b"").digest()[:8]


def _serve(inp, out) -> None:
    sys.path[:] = pickle.load(inp)
    from hyperswitch_data_backfill_spark.sinks.kafka_wire import WireBroker

    def send(obj) -> None:
        pickle.dump(obj, out)
        out.flush()

    broker = None
    try:
        while True:
            try:
                cmd, arg = pickle.load(inp)
            except EOFError:
                return
            if cmd == "restart":
                if broker is not None:
                    broker.close()
                broker = WireBroker()
                send(broker.port)
            elif cmd == "digest":
                topic, needle = arg
                recs = broker.records(topic)
                send({
                    "records": len(recs),
                    "missing_needle": sum(needle not in (v or b"") for _k, v in recs)
                    if needle else 0,
                    "value_bytes": sum(len(v or b"") for _k, v in recs),
                    "connections": broker.connections,
                    "errors": len(broker.errors),
                    "digests": b"".join(digest8(k) + digest8(v) for k, v in recs),
                })
            elif cmd == "stop":
                return
    finally:
        if broker is not None:
            broker.close()


class BrokerProcess:
    """Owns the child process; use as a context manager."""

    def __init__(self) -> None:
        self._proc = subprocess.Popen([sys.executable, os.path.abspath(__file__)],
                                      stdin=subprocess.PIPE, stdout=subprocess.PIPE)
        self.pid = self._proc.pid
        self._send(list(sys.path))

    def _send(self, obj) -> None:
        pickle.dump(obj, self._proc.stdin)
        self._proc.stdin.flush()

    def _call(self, cmd: str, arg=None):
        self._send((cmd, arg))
        return pickle.load(self._proc.stdout)

    def restart(self) -> int:
        return self._call("restart")

    def digest(self, topic: str, needle: bytes | None = None) -> dict:
        """Counters and digests of ``topic``'s log; ``missing_needle``
        counts values that do not contain ``needle``."""
        return self._call("digest", (topic, needle))

    def close(self) -> None:
        try:
            self._send(("stop", None))
            self._proc.stdin.close()
        except OSError:
            pass
        try:
            self._proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait(timeout=10)
        self._proc.stdout.close()

    def __enter__(self) -> "BrokerProcess":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


if __name__ == "__main__":
    # replies go over the original stdout; anything else printed goes to stderr
    replies = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    _serve(sys.stdin.buffer, replies)
