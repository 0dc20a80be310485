"""The sink handed to the program: ``sinks.http_sink`` with an in-process
``post`` that answers 200 and touches no network.

``post`` runs on the executors' Python workers, so what it observes comes
back through accumulators: bodies, bytes, items, an order-free fingerprint of
the emitted ids (``gen.key_fingerprint``) and the number of items whose id the
op must not send (re-stamped but unchanged keys)."""

from __future__ import annotations

import re

from entity_etl_spark import sinks

from .gen import MASK64, mix64

# awsEc2.json projects AWSUniqueId to "asset"; the key is its 12 digits
_ASSET = re.compile(r'"asset":"i-(\d{12})_')


def _make_post(accs, forbidden: frozenset):
    bodies, nbytes, items, fingerprint, sent_forbidden = accs

    def post(body: str) -> int:
        keys = [int(k) for k in _ASSET.findall(body)]
        bodies.add(1)
        nbytes.add(len(body.encode("utf-8")))
        items.add(len(keys))
        fingerprint.add(sum(mix64(k) for k in keys))
        sent_forbidden.add(sum(1 for k in keys if k in forbidden))
        return 200

    return post


class CountingSink:
    """One op's sink. ``forbidden`` holds the keys that must not be sent."""

    def __init__(self, sc, forbidden=()):
        self._accs = tuple(sc.accumulator(0) for _ in range(5))
        self._post = _make_post(self._accs, frozenset(int(k) for k in forbidden))

    def __call__(self, bodies) -> None:
        sinks.http_sink(bodies, post=self._post)

    def totals(self) -> dict[str, int]:
        bodies, nbytes, items, fingerprint, sent_forbidden = (a.value for a in self._accs)
        return {
            "bodies": bodies,
            "bytes": nbytes,
            "items": items,
            "fingerprint": fingerprint & MASK64,
            "sent_forbidden": sent_forbidden,
        }
