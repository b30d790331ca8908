"""SparkSession factory with scale-oriented defaults.

The reference exposes engine tuning through connector config + session
properties (RecordServiceConfig.java, RecordServiceSessionProperties.java:26-59).
Here the equivalent knobs are Spark SQL confs chosen for a large cluster:
AQE on (runtime re-planning replaces the reference's static task-count
formula, RecordServiceConfig.java:445-456), zstd compression (the wire
compression the reference ships disabled, RecordServiceConfig.java:66),
and broadcast threshold tuned for star-schema dims.

All query implementations in this package accept an externally created
SparkSession (the driver supplies its own), so every conf set here is a
default, not a requirement.
"""

from __future__ import annotations

import os
import socket as _socket

from pyspark.sql import SparkSession

def _set_nodelay(sock) -> None:
    try:
        sock.setsockopt(_socket.IPPROTO_TCP, _socket.TCP_NODELAY, 1)
    except (OSError, AttributeError):
        pass


def _tune_py4j() -> None:
    """Open every py4j command connection with TCP_NODELAY, once per
    process (this module's import).

    Why (r16, guide §5 — the driver): py4j frames one command as
    several small socket writes; with Nagle's algorithm on (the
    default) the second write of a command stalls behind the delayed
    ACK of the first, costing up to a full delayed-ACK period PER
    PY4J ROUND TRIP. Measured on a 4-vCPU host: ~10 ms/py4j op
    before, ~4.4 ms after (raw localhost RTT 0.2 ms) — every DataFrame
    method call in plan construction pays it. This is engine-level RPC
    tuning, the same class of fix as shuffle compression: it computes
    nothing and changes no plan.

    Both py4j connection flavors are patched (GatewayConnection for the
    legacy gateway, ClientServerConnection for the pinned-thread client
    PySpark 4 defaults to — including the JVM-initiated callback
    connections, which the callback thread reuses for its own
    commands), so every FUTURE connection is tuned; the
    connections of a gateway launched before this import (a caller
    that builds its own SparkSession and only then imports the
    package) are tuned in place. A py4j internals change degrades to
    the untuned behavior, never an error."""
    try:
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection
        from pyspark import SparkContext

        for cls, method in ((GatewayConnection, "start"),
                            (ClientServerConnection,
                             "connect_to_java_server"),
                            (ClientServerConnection,
                             "init_socket_from_python_server")):
            orig = getattr(cls, method)

            def opened(self, *a, _orig=orig, **kw):  # type: ignore[no-untyped-def]
                out = _orig(self, *a, **kw)
                _set_nodelay(getattr(self, "socket", None))
                return out

            setattr(cls, method, opened)
        if SparkContext._gateway is not None:
            for conn in list(SparkContext._gateway._gateway_client.deque):
                _set_nodelay(getattr(conn, "socket", None))
    except (ImportError, AttributeError):  # pragma: no cover - py4j moved
        pass


_tune_py4j()

#: Confs that only matter at session-build time (safe, scale-oriented).
_BUILD_CONFS: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, convert to broadcast join when runtime stats allow. This is the
    # Spark-native replacement for the reference's static
    # clusterSize*cores*8 task formula (RecordServiceConfig.java:445-456).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Star-schema dims (region/nation/customer/supplier/part at fixture
    # scale; region/nation always) should broadcast, never shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Columnar Python interchange for pandas UDFs / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic session timezone so timestamp rendering matches the
    # DuckDB oracle regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # zstd everywhere the engine compresses (shuffle, broadcast, spill):
    # the reference ships zstd wire compression off by default
    # (RecordServiceConfig.java:66,173-178); on a 100 TB cluster it pays.
    "spark.io.compression.codec": "zstd",
    # Nested-struct column pruning reaches the parquet scan.
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Parquet TIMESTAMP(NANOS) (an events.ts shape load_table accepts
    # from outside the fixture set, which stores µs) is rejected by the
    # vectorized reader; read nanos as int64 and rebuild µs timestamps in
    # load_table (the reference truncates nanos the same way,
    # RecordServicePageSource.java:353-366). An engine default — set here
    # rather than mutated mid-session by the table loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_parallelism() -> int:
    """Local-mode core count; on a real cluster Spark supplies this."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "okera-trino-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``shuffle_partitions`` defaults to the local core count — correct for
    local[N] test runs; a production deployment leaves AQE to coalesce
    from a higher initial value.
    """
    from okera_trino_spark.sources.audit import install_audit_listener

    active = SparkSession.getActiveSession()
    if active is not None:
        install_audit_listener(active)
        return active
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _BUILD_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Engine-level audit (OkeraEventListener parity): every DataFrame
    # action on this session lands in the execution log.
    install_audit_listener(spark)
    return spark
