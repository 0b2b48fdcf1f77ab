"""Local read/write-through cache over a shared result store.

Parity surface: reference ``runners/cached_runner.py:27-164`` — a runner
whose store is usually remote/shared keeps a local cache directory so hot
results are read once:

* data files (parquet / json / pickle / done): serve from cache, fetch into
  cache on miss; writes land in the cache first, then copy to the shared
  store (``done`` marker last, so a crashed writer never looks complete);
* status files: pass through to the shared store, but only
  completed/ephemeral statuses are cached locally (running/failed states
  must stay authoritative remotely).

At 100-TB scale the *results* being cached are op outputs (aggregates,
pair lists, trained probes) — orders of magnitude smaller than inputs —
so a driver-local cache dir is the right trade; the parquet payloads are
copied by the driver, not collected through it row-by-row.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Optional

from .spark_runner import SparkRunner
from .store import ResultStore

_CACHEABLE_STATES = {"completed", "ephemeral"}


def _atomic_copy_file(src: str, dst: str) -> None:
    with ResultStore.staged(dst) as tmp:
        shutil.copy2(src, tmp)


def _atomic_copy_tree(src: str, dst: str) -> None:
    with ResultStore.staged(dst) as tmp:
        shutil.copytree(src, tmp)


class CachedResultStore(ResultStore):
    """A ResultStore whose primary paths live in a local cache directory,
    backed by a shared (possibly remote-mounted) store."""

    def __init__(self, shared_root: str, cache_root: str):
        self.shared = ResultStore(shared_root)
        super().__init__(cache_root)  # inherited paths = the local cache

    # -- sync primitives ------------------------------------------------- #

    def _pull_file(self, uuid: str, name: str) -> str:
        local = self._side_path(uuid, name)
        if not os.path.exists(local):
            remote = self.shared._side_path(uuid, name)
            if os.path.exists(remote):
                self.ensure_dir(uuid)
                _atomic_copy_file(remote, local)
        return local

    # -- completion ------------------------------------------------------ #

    def is_done(self, uuid: str) -> bool:
        if super().is_done(uuid):
            return True
        if self.shared.is_done(uuid):
            # Cache the marker so the next check is a local stat.
            self.ensure_dir(uuid)
            super().mark_done(uuid)
            return True
        return False

    def mark_done(self, uuid: str) -> None:
        # The one push of an entry's data (parquet tree, json, pickle),
        # data first, shared `done` marker last (crash-safe ordering).
        self.shared.ensure_dir(uuid)
        local_parquet = super().parquet_path(uuid)
        if os.path.exists(local_parquet):
            _atomic_copy_tree(local_parquet, self.shared.parquet_path(uuid))
        for name in (self.JSON, self.PICKLE):
            local = self._side_path(uuid, name)
            if os.path.exists(local):
                _atomic_copy_file(local, self.shared._side_path(uuid, name))
        super().mark_done(uuid)
        self.shared.mark_done(uuid)

    # -- parquet --------------------------------------------------------- #

    def parquet_path(self, uuid: str) -> str:
        local = super().parquet_path(uuid)
        if not os.path.exists(local) and os.path.exists(
            self.shared.parquet_path(uuid)
        ):
            self.ensure_dir(uuid)
            _atomic_copy_tree(self.shared.parquet_path(uuid), local)
        return local

    # -- json / pickle sidecars ------------------------------------------ #

    def read_json(self, uuid: str):
        self._pull_file(uuid, self.JSON)
        return super().read_json(uuid)

    def has_json(self, uuid: str) -> bool:
        return super().has_json(uuid) or self.shared.has_json(uuid)

    def read_pickle(self, uuid: str):
        self._pull_file(uuid, self.PICKLE)
        return super().read_pickle(uuid)

    def has_pickle(self, uuid: str) -> bool:
        return super().has_pickle(uuid) or self.shared.has_pickle(uuid)

    # -- status ---------------------------------------------------------- #

    @staticmethod
    def _state_of(status_json: str) -> Optional[str]:
        try:
            return json.loads(status_json).get("state")
        except (ValueError, AttributeError):
            return None

    def write_status(self, uuid: str, status_json: str) -> None:
        # The shared store is authoritative for in-flight states.
        self.shared.write_status(uuid, status_json)
        if self._state_of(status_json) in _CACHEABLE_STATES:
            super().write_status(uuid, status_json)
        else:
            # An op moving back to running/failed invalidates anything this
            # cache previously held for it (a re-queued op must not be
            # served a stale completed result by THIS instance; other
            # instances' caches follow the content-addressing immutability
            # assumption, as in the reference).
            for name in (self.STATUS, self.DONE):
                path = self._side_path(uuid, name)
                if os.path.exists(path):
                    os.remove(path)

    def read_status(self, uuid: str) -> Optional[str]:
        local = super().read_status(uuid)
        if local is not None:
            return local
        remote = self.shared.read_status(uuid)
        if remote is not None and self._state_of(remote) in _CACHEABLE_STATES:
            super().write_status(uuid, remote)
        return remote


class LocalCachedRunner(SparkRunner):
    """SparkRunner over a :class:`CachedResultStore`.

    ``store_path`` is the shared store; ``cache_path`` defaults to a
    directory under the system temp dir (reference semantics:
    ``cached_runner.py:69-90``)."""

    def __init__(
        self,
        spark=None,
        store_path: Optional[str] = None,
        cache_path: Optional[str] = None,
    ):
        if store_path is None:
            raise ValueError("LocalCachedRunner requires a store_path")
        super().__init__(spark=spark, store_path=None)
        if cache_path is None:
            # Per-store cache namespace: a single shared cache directory
            # would leak done markers across DIFFERENT shared stores (op X
            # completed against store A must not look done against store B).
            # The base dir comes from config (per-user under the temp dir —
            # a fixed world-readable path would let any other account on a
            # shared box pre-create and poison the cache).
            import hashlib

            from ..config import KrnelGraphSparkConfig

            store_key = hashlib.sha256(
                os.path.abspath(store_path).encode()
            ).hexdigest()[:16]
            cache_path = os.path.join(
                str(KrnelGraphSparkConfig().cache_path), store_key
            )
        self.store = CachedResultStore(store_path, cache_path)
