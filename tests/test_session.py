"""Session factory: py4j command sockets run with TCP_NODELAY."""

from __future__ import annotations

import socket
import threading


def _nodelay_flags(client) -> list[int]:
    return [conn.socket.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)
            for conn in list(client.deque) if conn.socket is not None]


def test_py4j_sockets_are_nodelay_after_get_spark_and_new_thread(spark):
    client = spark.sparkContext._gateway._gateway_client
    spark.range(1).collect()
    flags = _nodelay_flags(client)
    assert flags and all(f == 1 for f in flags), flags

    # A py4j call from a fresh thread opens (and pins) a new connection.
    seen: list[list[int]] = []

    def call() -> None:
        spark._jvm.java.lang.System.nanoTime()
        seen.append(_nodelay_flags(client))

    worker = threading.Thread(target=call)
    worker.start()
    worker.join()
    assert seen and len(seen[0]) > len(flags), (flags, seen)
    assert all(f == 1 for f in seen[0]), seen
