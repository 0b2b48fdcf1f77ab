"""UUID-keyed persistent result store.

Layout (parity with the reference's store,
``local_arrow_runner.py:51-57,105-152``)::

    {root}/{ClassName}/{hash}/result.parquet/   (a parquet directory)
                               result.parquet/_schema.json  (its schema)
                               result.json
                               result.pickle
                               status.json
                               done              (completion marker)

A small result's directory holds one Arrow-written file,
``part-00000.parquet``; a larger one holds Spark's part files. The
``done`` marker is written last, so a crashed writer never looks
complete. The JSON, pickle and status files, the one-file parquet
result and the cache's copies are staged under a temporary name and
renamed into place (``ResultStore.staged``), so a failed write leaves
the previous file whole. Results written by one
process are visible to any other process pointing at the same root —
this is the engine's cross-run / cross-machine memoization layer
(content-addressed keys make it safe).

Paths are plain strings so the same code works for ``file:``-like local paths
and (via Spark's Hadoop FS for parquet) remote object stores; the small
JSON/pickle sidecar files go through a pluggable open function for the same
reason.
"""

from __future__ import annotations

import contextlib
import json
import os
import pickle
import shutil
import uuid as _uuid
from typing import Any, Optional


class ResultStore:
    PARQUET = "result.parquet"
    SCHEMA = "_schema.json"  # inside PARQUET; Spark's listing skips "_" files
    JSON = "result.json"
    PICKLE = "result.pickle"
    STATUS = "status.json"
    DONE = "done"

    def __init__(self, root: str):
        self.root = str(root)
        os.makedirs(self.root, exist_ok=True)

    # -- paths ----------------------------------------------------------- #

    def op_dir(self, uuid: str) -> str:
        cls_name, _, digest = uuid.partition("_")
        return os.path.join(self.root, cls_name, digest)

    def parquet_path(self, uuid: str) -> str:
        return os.path.join(self.op_dir(uuid), self.PARQUET)

    def _side_path(self, uuid: str, name: str) -> str:
        return os.path.join(self.op_dir(uuid), name)

    @staticmethod
    @contextlib.contextmanager
    def staged(path: str):
        """The store's one staging rule: yield a unique ``.``-prefixed
        name next to ``path`` to build a file or directory under, then
        rename it into place. Readers see the old entry or the new one,
        never a torn one, and Spark's file listing skips the staged
        name. If the block fails, the staged entry is removed."""
        folder, name = os.path.split(path)
        tmp = os.path.join(folder, f".{name}.{_uuid.uuid4().hex}.tmp")
        try:
            yield tmp
            os.replace(tmp, path)
        except BaseException:
            if os.path.isdir(tmp):
                shutil.rmtree(tmp, ignore_errors=True)
            elif os.path.exists(tmp):
                os.remove(tmp)
            raise

    @classmethod
    def write_atomically(cls, path: str, data) -> None:
        """Write the bytes-like ``data`` to ``path`` through ``staged``."""
        with cls.staged(path) as tmp, open(tmp, "xb") as f:
            f.write(data)

    # -- completion protocol ---------------------------------------------- #

    def is_done(self, uuid: str) -> bool:
        return os.path.exists(self._side_path(uuid, self.DONE))

    def mark_done(self, uuid: str) -> None:
        with open(self._side_path(uuid, self.DONE), "w") as f:
            f.write("")

    def clear(self, uuid: str) -> None:
        shutil.rmtree(self.op_dir(uuid), ignore_errors=True)

    def ensure_dir(self, uuid: str) -> str:
        path = self.op_dir(uuid)
        os.makedirs(path, exist_ok=True)
        return path

    # -- sidecar payloads --------------------------------------------------#

    def write_json(self, uuid: str, payload: Any) -> None:
        data = json.dumps(payload, sort_keys=True).encode()
        self.ensure_dir(uuid)
        self.write_atomically(self._side_path(uuid, self.JSON), data)

    def read_json(self, uuid: str) -> Any:
        with open(self._side_path(uuid, self.JSON)) as f:
            return json.load(f)

    def has_json(self, uuid: str) -> bool:
        return os.path.exists(self._side_path(uuid, self.JSON))

    def write_pickle(self, uuid: str, obj: Any) -> None:
        data = pickle.dumps(obj)
        self.ensure_dir(uuid)
        self.write_atomically(self._side_path(uuid, self.PICKLE), data)

    def read_pickle(self, uuid: str) -> Any:
        with open(self._side_path(uuid, self.PICKLE), "rb") as f:
            return pickle.load(f)

    def has_pickle(self, uuid: str) -> bool:
        return os.path.exists(self._side_path(uuid, self.PICKLE))

    def has_parquet(self, uuid: str) -> bool:
        return os.path.exists(self.parquet_path(uuid))

    # -- status -------------------------------------------------------------#

    def write_status(self, uuid: str, status_json: str) -> None:
        data = status_json.encode()
        self.ensure_dir(uuid)
        self.write_atomically(self._side_path(uuid, self.STATUS), data)

    def read_status(self, uuid: str) -> Optional[str]:
        path = self._side_path(uuid, self.STATUS)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return f.read()

    def list_uuids(self) -> list[str]:
        found = []
        if not os.path.isdir(self.root):
            return found
        for cls_name in os.listdir(self.root):
            cls_dir = os.path.join(self.root, cls_name)
            if os.path.isdir(cls_dir):
                for digest in os.listdir(cls_dir):
                    found.append(f"{cls_name}_{digest}")
        return found
