"""Session-scoped, version-keyed, LRU-bounded caches for driver-side
dimension artifacts (localized dimension frames, broadcast matchers).

Why this exists: rebuilding a lexicon dimension or a broadcast automaton is
pure driver-side serial time repeated identically on every pipeline
invocation over the same dictionary VERSION. A cluster builds such an
artifact once per version and reuses it across jobs/micro-batches, so the
engine does the same — but a long-lived application that cycles through
many dictionary versions must not accumulate one broadcast/LocalRelation
per version forever. This cache bounds growth three ways:

- entries from dead applications are evicted on every insert;
- per-application entries are LRU-bounded at ``max_per_app`` — the evicted
  value is handed to ``on_evict`` so broadcasts get ``unpersist``/
  ``destroy`` (executor + driver memory released), not just dropped;
- all access is behind a lock, so concurrent pipeline invocations on one
  session can't interleave insert/evict (duplicate builds remain possible
  and benign — the loser's artifact is simply not cached).

Staleness contract: the version key is the CALLER's (e.g. the lexicon
table's snapshot id) — reusing a key after the underlying data changed
serves stale artifacts, same as any dimension cache. As a cheap tripwire,
each entry records a ``fingerprint`` (callers pass the input schema
string); a hit whose stored fingerprint differs from the caller's current
one is discarded with a warning instead of served. Schema equality cannot
catch same-schema/different-rows misuse — plan hashes can't serve here
either (semanticHash is not stable across createDataFrame instantiations
of identical data), which is exactly why the key is explicit.
"""

from __future__ import annotations

import threading
import warnings
from collections import OrderedDict
from typing import Any, Callable, Optional


class SessionVersionCache:
    def __init__(self, max_per_app: int = 4, on_evict: Optional[Callable[[Any], None]] = None):
        if max_per_app < 1:
            raise ValueError(f"max_per_app must be >= 1, got {max_per_app}")
        self.max_per_app = max_per_app
        self.on_evict = on_evict
        self._data: "OrderedDict[tuple, tuple]" = OrderedDict()  # (app,key) → (value, fp)
        self._lock = threading.Lock()

    def _evict_value(self, value: Any) -> None:
        if self.on_evict is not None:
            try:
                self.on_evict(value)
            except Exception:  # noqa: BLE001 — eviction must never break the caller
                pass

    def get(self, app_id: str, key: str, fingerprint: str = "") -> Any:
        with self._lock:
            entry = self._data.get((app_id, key))
            if entry is None:
                return None
            value, fp = entry
            if fp != fingerprint:
                warnings.warn(
                    f"SessionVersionCache: version key {key!r} reused with a "
                    f"different input fingerprint (cached {fp!r} != current "
                    f"{fingerprint!r}); discarding the stale entry — version "
                    "keys must change when the underlying dimension changes",
                    stacklevel=2,
                )
                del self._data[(app_id, key)]
                self._evict_value(value)
                return None
            self._data.move_to_end((app_id, key))
            return value

    def put(self, app_id: str, key: str, value: Any, fingerprint: str = "") -> None:
        with self._lock:
            # Dead-session entries are DROPPED, never on_evict'ed: in local
            # mode consecutive sessions share one JVM, broadcast ids restart
            # from 0 per context, and a stale handle's destroy() resolves
            # through the CURRENT SparkEnv — destroying the dead app's
            # "broadcast_15" deletes the LIVE app's broadcast_15 blocks
            # (reproduced: second bench leg failed with
            # INTERNAL_ERROR_BROADCAST). The dead context already released
            # its resources when it stopped; dropping the handle is enough.
            for k in [k for k in self._data if k[0] != app_id]:
                del self._data[k]
            evicted = []
            self._data[(app_id, key)] = (value, fingerprint)
            self._data.move_to_end((app_id, key))
            while sum(1 for k in self._data if k[0] == app_id) > self.max_per_app:
                oldest = next(k for k in self._data if k[0] == app_id)
                evicted.append(self._data.pop(oldest)[0])
        for v in evicted:  # release outside the lock — unpersist can block
            self._evict_value(v)

    def get_or_build(self, app_id: str, key: Optional[str], fingerprint: str, build: Callable[[], Any]) -> Any:
        """The cached value for (app_id, key) if its fingerprint matches,
        else ``build()`` — cached under the key unless the key is None.
        ``build`` runs outside the lock, so a slow build never blocks other
        keys (see above on duplicate builds)."""
        if key is None:
            return build()
        value = self.get(app_id, key, fingerprint)
        if value is None:
            value = build()
            self.put(app_id, key, value, fingerprint)
        return value

    def __len__(self) -> int:
        return len(self._data)

    def clear(self) -> None:
        with self._lock:
            values = [v for v, _ in self._data.values()]
            self._data.clear()
        for v in values:
            self._evict_value(v)


def destroy_broadcast(bc: Any) -> None:
    """Evictor for broadcast-valued caches: release executor AND driver
    copies. Non-blocking; safe on already-destroyed handles (errors are
    swallowed by the cache's eviction wrapper)."""
    bc.unpersist(blocking=False)
    bc.destroy(blocking=False)
