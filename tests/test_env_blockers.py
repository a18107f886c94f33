"""Round-start probe for the environment-blocked Kafka surface
(VERDICT r8 #8): keep the guard describing reality. If the sandbox
ever gains a Kafka broker, this stops skipping and fails loudly — the
signal to light up the real path that round instead of letting the
guarded code rot.
"""

from __future__ import annotations

import socket

import pytest

KAFKA_HOST, KAFKA_PORT = "localhost", 9092


def _broker_reachable() -> bool:
    try:
        with socket.create_connection((KAFKA_HOST, KAFKA_PORT), timeout=0.5):
            return True
    except OSError:
        return False


@pytest.mark.skipif(
    not _broker_reachable(),
    reason="no Kafka broker at localhost:9092 in this sandbox — the "
    "kafka_stream/kafka_sink builders stay config-surface-only "
    "(streaming/sources.py kafka_stream, streaming/sinks.py)",
)
def test_kafka_broker_now_available(spark):
    # A broker appeared: the config builders must now round-trip for
    # real. Deliberately failing-by-default once reachable so the
    # round that gains a broker wires the end-to-end path.
    from trisk_spark.streaming.sources import kafka_stream

    df = kafka_stream(spark, f"{KAFKA_HOST}:{KAFKA_PORT}", "trisk-probe")
    assert df.isStreaming
    pytest.fail(
        "Kafka broker reachable — promote the builders to a tested "
        "end-to-end produce/consume path this round"
    )
