"""Ingestion adapter: exchange WebSocket -> Kafka (reference surface S1/S2,
SURVEY.md §2.1; behavior described at reference producer/producer.py:14-115).

This sits OUTSIDE Spark by design — the reference does the same: a thin
Python process pushes raw trade JSON onto Kafka, and the Spark engine owns
everything after the topic.

The decision logic (subscription frame, event filter + field renaming,
reconnect backoff schedule) is pure functions, unit-tested without any
network. The network loop is gated behind import-try: the container has no
websocket/kafka client libs, and nothing else imports them.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

#: Binance single-letter wire keys -> canonical long names
#: (reference producer/producer.py:51-58 does the same rename).
_FIELD_MAP = {
    "t": "trade_id",
    "s": "symbol",
    "p": "price",  # kept as string: exact-precision transport (SURVEY §1.2)
    "q": "quantity",  # kept as string
    "T": "trade_time",  # epoch ms
    "m": "is_buyer_maker",
}


def subscribe_frame(pairs: list[str]) -> str:
    """JSON SUBSCRIBE frame for the {pair}@trade streams
    (reference producer/producer.py:83-90 subscribes one pair; ours takes N)."""
    return json.dumps(
        {
            "method": "SUBSCRIBE",
            "params": [f"{p.lower()}@trade" for p in pairs],
            "id": 1,
        }
    )


def normalize_trade_message(raw: str | bytes) -> dict[str, Any] | None:
    """Parse one wire message; return the canonical 6-field record, or None
    for non-trade events / malformed JSON (reference producer.py:50-58 drops
    non-'trade' events the same way)."""
    try:
        msg = json.loads(raw)
    except (ValueError, TypeError):
        return None
    if not isinstance(msg, dict) or msg.get("e") != "trade":
        return None
    if not all(k in msg for k in _FIELD_MAP):
        return None
    return {long: msg[short] for short, long in _FIELD_MAP.items()}


def backoff_schedule() -> Iterator[float]:
    """Exponential reconnect delays: 5 s, 10 s, 20 s, ... capped at 60 s
    (reference producer.py:100-115 uses the same policy)."""
    delay = 5.0
    while True:
        yield delay
        delay = min(delay * 2, 60.0)


def run_producer(
    *,
    pairs: list[str],
    topic: str,
    brokers: str,
    ws_url: str = "wss://stream.binance.com:9443/ws",
) -> None:  # pragma: no cover - needs network + ws/kafka libs
    """Blocking ingest loop: subscribe, normalize, publish; reconnect with
    exponential backoff on any failure. Requires ``websocket-client`` and
    ``kafka-python`` (not installed in the test container)."""
    try:
        import websocket  # type: ignore[import-not-found]
        from kafka import KafkaProducer  # type: ignore[import-not-found]
    except ImportError as exc:
        raise NotImplementedError(
            "run_producer needs websocket-client + kafka-python installed; "
            "the pure helpers (subscribe_frame / normalize_trade_message / "
            "backoff_schedule) work without them"
        ) from exc

    producer = KafkaProducer(
        bootstrap_servers=brokers,
        value_serializer=lambda d: json.dumps(d).encode("utf-8"),
    )
    import time

    delays = backoff_schedule()
    while True:
        try:
            ws = websocket.create_connection(ws_url)
            ws.send(subscribe_frame(pairs))
            delays = backoff_schedule()  # reset after a successful connect
            while True:
                rec = normalize_trade_message(ws.recv())
                if rec is not None:
                    producer.send(topic, rec)
        except Exception:
            time.sleep(next(delays))
