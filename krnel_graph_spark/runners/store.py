"""UUID-keyed persistent result store: the one module that knows the
format of a store entry.

Layout (parity with the reference's store,
``local_arrow_runner.py:51-57,105-152``)::

    {root}/{ClassName}/{hash}/result.parquet/   (a parquet directory)
                               result.parquet/_schema.json  (its schema)
                               result.json
                               result.pickle
                               status.json
                               done              (completion marker)

A small result's directory holds one Arrow-written file,
``part-00000.parquet``; a larger one holds Spark's part files. Either
way the directory carries the frame's Spark schema, and the ``__row_id``
field's metadata carries the plan facts a reload needs.

Every write commits by one rule, ``ResultStore.staged``: the file or
directory is built under a unique ``.``-prefixed name, any old target
is dropped, and the new one is renamed into place. A write that fails
part-way leaves no entry half-written and no staged name behind. The
``done`` marker is written last, so a crashed writer never looks
complete. Results written by one process are visible to any other
process pointing at the same root — this is the engine's cross-run /
cross-machine memoization layer (content-addressed keys make it safe).

The root is a local or mounted path: the sidecar files are written with
``os``, so a ``scheme://`` root is rejected rather than split between
the local disk and Spark's Hadoop filesystem.
"""

from __future__ import annotations

import contextlib
import json
import os
import pickle
import re
import shutil
import uuid as _uuid
from typing import Any, Optional

from ..functions.partitioning import plan_size_bytes
from .plan import ROW_ID

_URI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


class ResultStore:
    PARQUET = "result.parquet"
    SCHEMA = "_schema.json"  # inside PARQUET; Spark's listing skips "_" files
    PLAN_FACTS = "krnel.plan"  # key of the plan facts in __row_id's field metadata
    JSON = "result.json"
    PICKLE = "result.pickle"
    STATUS = "status.json"
    DONE = "done"

    def __init__(self, root: str):
        self.root = str(root)
        if _URI.match(self.root):
            raise ValueError(
                f"store root {self.root!r} is a URI; store roots must be "
                "local or mounted paths"
            )
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
        """The store's one commit rule: yield a unique ``.``-prefixed
        name next to ``path`` to build a file or directory under, then
        drop any old ``path`` and rename the new one into place. Spark's
        file listing skips the staged name. If the block fails, the
        staged entry is removed and ``path`` is left as it was."""
        folder, name = os.path.split(path)
        tmp = os.path.join(folder, f".{name}.{_uuid.uuid4().hex}.tmp")
        try:
            yield tmp
            if os.path.isdir(path):
                # A file replaces a file atomically; a directory cannot
                # replace a non-empty one, so the old tree goes first.
                shutil.rmtree(path)
            os.replace(tmp, path)
        except BaseException:
            if os.path.isdir(tmp):
                shutil.rmtree(tmp, ignore_errors=True)
            elif os.path.exists(tmp):
                os.remove(tmp)
            raise

    def _write_side(self, uuid: str, name: str, data: bytes) -> None:
        self.ensure_dir(uuid)
        with self.staged(self._side_path(uuid, name)) as tmp, open(tmp, "xb") as f:
            f.write(data)

    # -- completion protocol ---------------------------------------------- #

    def is_done(self, uuid: str) -> bool:
        return os.path.exists(self._side_path(uuid, self.DONE))

    def mark_done(self, uuid: str) -> None:
        with open(self._side_path(uuid, self.DONE), "w") as f:
            f.write("")

    def ensure_dir(self, uuid: str) -> str:
        path = self.op_dir(uuid)
        os.makedirs(path, exist_ok=True)
        return path

    # -- sidecar payloads --------------------------------------------------#

    def write_json(self, uuid: str, payload: Any) -> None:
        self._write_side(uuid, self.JSON, json.dumps(payload, sort_keys=True).encode())

    def read_json(self, uuid: str) -> Any:
        with open(self._side_path(uuid, self.JSON)) as f:
            return json.load(f)

    def has_json(self, uuid: str) -> bool:
        return os.path.exists(self._side_path(uuid, self.JSON))

    def write_pickle(self, uuid: str, obj: Any) -> None:
        self._write_side(uuid, self.PICKLE, pickle.dumps(obj))

    def read_pickle(self, uuid: str) -> Any:
        with open(self._side_path(uuid, self.PICKLE), "rb") as f:
            return pickle.load(f)

    def has_pickle(self, uuid: str) -> bool:
        return os.path.exists(self._side_path(uuid, self.PICKLE))

    # -- parquet results -------------------------------------------------- #

    def write_parquet(self, uuid: str, df, facts: dict) -> None:
        """Store ``df`` as the entry's parquet result, with ``facts``
        recorded in its ``__row_id`` field metadata and its schema in
        ``_schema.json``, all in one staged directory.

        A small result (see ``_collect_small``) is written as one file,
        skipping Spark's write job and commit protocol. Its footer
        carries what Spark's own writer puts there: the Spark schema, so
        the plan facts survive a read without ``_schema.json``, and the
        Spark version, so dates and timestamps read with the proleptic
        calendar. Anything else goes through Spark's writer."""
        df = df.withMetadata(ROW_ID, {self.PLAN_FACTS: facts})
        path = self.parquet_path(uuid)
        self.ensure_dir(uuid)
        with self.staged(path) as tmp:
            table = self._collect_small(df)
            if table is None:
                df.write.parquet(tmp)
            else:
                os.makedirs(tmp)
                self._write_one_file(df, table, os.path.join(tmp, "part-00000.parquet"))
            with open(os.path.join(tmp, self.SCHEMA), "x") as f:
                f.write(df.schema.json())

    def read_parquet(self, spark, uuid: str):
        """The entry's parquet result and its plan facts (``{}`` for
        entries stored without them). A stored schema spares the
        schema-inference job (about 0.1 s per re-read); entries written
        without a schema file are still inferred."""
        from pyspark.sql import types as T

        path = self.parquet_path(uuid)
        try:
            with open(os.path.join(path, self.SCHEMA)) as f:
                schema = T.StructType.fromJson(json.load(f))
        except FileNotFoundError:
            df = spark.read.parquet(path)
        else:
            df = spark.read.schema(schema).parquet(path)
        return df, df.schema[ROW_ID].metadata.get(self.PLAN_FACTS, {})

    @staticmethod
    def _write_one_file(df, table, path: str) -> None:
        import pyarrow.parquet as pq

        spark = df.sparkSession
        table = table.replace_schema_metadata(
            {
                "org.apache.spark.sql.parquet.row.metadata": df.schema.json(),
                "org.apache.spark.version": spark.version,
            }
        )
        # Sized like Spark's writer: the session's codec at its zstd
        # level; no dictionaries, which pyarrow keeps even where they do
        # not pay (unique floats); no statistics, which copy whole texts
        # into the footer of a file too small to skip. The Arrow schema
        # stays: without it pyarrow drops the footer keys.
        codec = spark.conf.get("spark.sql.parquet.compression.codec")
        level = spark.sparkContext._jsc.hadoopConfiguration().getInt(
            "parquet.compression.codec.zstd.level", 3
        )
        pq.write_table(
            table,
            path,
            compression=codec,
            compression_level=level if codec == "zstd" else None,
            use_dictionary=False,
            write_statistics=False,
        )

    @staticmethod
    def _collect_small(df):
        """``df`` as one Arrow table if it is small, else None.

        Small means at most the session's broadcast threshold, the size
        Spark already collects to the driver to broadcast. Catalyst's
        estimate must be known and within it, but the estimate alone is
        not trusted: Catalyst sizes a Python UDF's output from default
        type widths (an ``array<float>`` counts as one element), so an
        activations frame can be thousands of times its estimate. The
        frame is therefore collected as a stream of Arrow batches, and
        the collect gives up as soon as the batches would pass the
        threshold, so this process holds at most the threshold. (The JVM
        gathers the job's results before the stream starts; past
        ``spark.driver.maxResultSize`` it fails the collect.) An empty
        frame or a failed collect returns None too, so Spark's writer
        runs, and raises a genuine error itself."""
        import pyarrow as pa
        from pyspark.sql.pandas.serializers import ArrowCollectSerializer
        from pyspark.util import local_connect_and_auth

        conf = df.sparkSession._jsparkSession.sessionState().conf()
        threshold = conf.autoBroadcastJoinThreshold()
        size = plan_size_bytes(df)
        if size is None or size > threshold:
            return None
        port, secret, server = df._jdf.collectAsArrowToPython()
        sockfile, sock = local_connect_and_auth(port, secret)
        sock.settimeout(None)  # the job may run for long before the first batch
        batches, nbytes, order = [], 0, None
        with contextlib.suppress(Exception):
            # Batches may come out of row order; the last item is their order.
            for item in ArrowCollectSerializer().load_stream(sockfile):
                if isinstance(item, list):
                    order = item
                elif nbytes + item.nbytes > threshold:
                    break
                else:
                    nbytes += item.nbytes
                    batches.append(item)
        sockfile.close()  # the socket closes with its last file
        sock.close()
        try:
            server.getResult()
        except Exception:
            order = None
        return pa.Table.from_batches([batches[i] for i in order]) if order else None

    # -- status -------------------------------------------------------------#

    def write_status(self, uuid: str, status_json: str) -> None:
        self._write_side(uuid, self.STATUS, status_json.encode())

    def read_status(self, uuid: str) -> Optional[str]:
        path = self._side_path(uuid, self.STATUS)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return f.read()
