"""Storage backends for the service layer (SURVEY.md §3, S2/S3/S5).

The reference ships real S3 / Redis clients (``/root/reference/src/services/
s3.rs:40-74``, ``redis.rs:26-73``) plus in-memory fakes for tests
(``memory_s3.rs``, ``memory_redis.rs``). On Spark the data plane needs
neither: executors read/write object storage natively through the Hadoop
filesystem connectors, so the engine only ever handles *URIs*. This module is
the seam that makes the backend swappable:

- :class:`ObjectStore` — the interface. Keys are bucket-relative
  (``uploads/<id>.csv``); :meth:`ObjectStore.uri` returns the logical URI the
  rest of the system stores and passes around (``s3a://bucket/key`` in
  production), and :meth:`ObjectStore.resolve` maps a logical URI to the
  physical path Spark should actually read. With a real S3 backend
  ``resolve`` is the identity (hadoop-aws handles ``s3a://`` directly); the
  local fake maps it onto a directory tree. Service code never touches
  the filesystem directly, so swapping backends touches nothing else.
- :class:`LocalObjectStore` — the local-FS fake presenting ``s3a://``-style
  URIs, byte-faithful put/get/list/delete.
- :class:`TTLCache` — the insights and query-result caches: the
  reference's expiry semantics (``src/services/mod.rs:107``: 24 h TTL,
  injectable clock so expiry is testable without sleeping), bounded to
  ``CACHE_MAX_BYTES`` per cache. An entry counts ``len(key) + len(value)``
  (characters; the values are ASCII JSON, so about bytes). Past the bound
  the least recently used entries are evicted on ``put``, so entries that
  are never read again do not stay forever; an evicted insights entry
  takes the recompute-on-miss path like an expired one.
"""

from __future__ import annotations

import threading
import time
from abc import ABC, abstractmethod
from collections import OrderedDict
from collections.abc import Callable
from pathlib import Path

# Size bound of one TTLCache, in characters of key + value.
CACHE_MAX_BYTES = 64 << 20


class ObjectStore(ABC):
    """Minimal object-store contract used by the service layer."""

    @abstractmethod
    def put_bytes(self, key: str, data: bytes) -> str:
        """Store ``data`` under ``key``; returns the object's logical URI."""

    @abstractmethod
    def get_bytes(self, key: str) -> bytes:
        ...

    @abstractmethod
    def exists(self, key: str) -> bool:
        ...

    @abstractmethod
    def delete(self, key: str) -> None:
        ...

    @abstractmethod
    def list_keys(self, prefix: str = "") -> list[str]:
        ...

    @abstractmethod
    def uri(self, key: str) -> str:
        """Logical URI for ``key`` (what gets persisted in job metadata)."""

    @abstractmethod
    def resolve(self, uri: str) -> str:
        """Map a logical URI to the path Spark reads/writes. Identity for a
        real object store; the local fake rewrites onto its root dir."""


class LocalObjectStore(ObjectStore):
    """Local-filesystem fake that presents ``s3a://bucket/key`` URIs.

    Mirrors the reference's ``memory_s3.rs`` role, but with the Spark twist:
    the engine reads datasets via :meth:`resolve`, so tests exercise the
    exact URI-indirection code path a real ``s3a://`` deployment uses."""

    def __init__(self, root: str, bucket: str = "g-data", scheme: str = "s3a"):
        self.root = Path(root)
        self.bucket = bucket
        self.scheme = scheme
        self.root.mkdir(parents=True, exist_ok=True)
        self._prefix = f"{scheme}://{bucket}/"

    def _path(self, key: str) -> Path:
        if key.startswith("/") or ".." in key.split("/"):
            raise ValueError(f"invalid object key {key!r}")
        return self.root / key

    def put_bytes(self, key: str, data: bytes) -> str:
        p = self._path(key)
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)
        return self.uri(key)

    def get_bytes(self, key: str) -> bytes:
        p = self._path(key)
        if not p.is_file():
            raise FileNotFoundError(self.uri(key))
        return p.read_bytes()

    def exists(self, key: str) -> bool:
        return self._path(key).exists()

    def delete(self, key: str) -> None:
        p = self._path(key)
        if p.is_file():
            p.unlink()

    def list_keys(self, prefix: str = "") -> list[str]:
        base = self.root
        return sorted(
            str(p.relative_to(base)).replace("\\", "/")
            for p in base.rglob("*")
            if p.is_file()
            and str(p.relative_to(base)).replace("\\", "/").startswith(prefix)
        )

    def uri(self, key: str) -> str:
        self._path(key)  # validate
        return self._prefix + key

    def resolve(self, uri: str) -> str:
        if not uri.startswith(self._prefix):
            raise ValueError(
                f"URI {uri!r} is not in this store (expected {self._prefix}*)"
            )
        return str(self._path(uri[len(self._prefix):]))


class HadoopObjectStore(ObjectStore):
    """Object store backed by the Hadoop ``FileSystem`` API via the Spark JVM
    gateway — the REAL cluster code path (reference parity:
    ``/root/reference/src/services/s3.rs:40-74`` put/get/list/delete).

    ``base_uri`` selects the backend by scheme: ``s3a://bucket/prefix``
    against a real object store (hadoop-aws + credentials via the standard
    ``spark.hadoop.fs.s3a.*`` configs), ``hdfs://...``, or ``file:///...``
    for tests. Every scheme runs the SAME code below — the local contract
    test over ``file://`` exercises byte-for-byte the calls an ``s3a://``
    deployment makes, so pointing ``GDP_S3_TEST_URI`` at a live endpoint is
    a config change, not a code change.

    ``resolve`` is the identity: Spark executors read ``s3a://`` URIs
    natively, so no rewriting is needed (unlike :class:`LocalObjectStore`,
    which must map its fake URIs onto a directory tree). Driver-side
    ``put_bytes``/``get_bytes`` are for small control-plane objects (uploads,
    JSON results); bulk data moves executor-side via ``spark.read``/``write``
    on the returned URIs.
    """

    def __init__(self, spark, base_uri: str):
        if not base_uri.endswith("/"):
            base_uri += "/"
        self.base_uri = base_uri
        jvm = spark._jvm
        self._jvm = jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._base_path = jvm.org.apache.hadoop.fs.Path(base_uri)
        self._fs = self._base_path.getFileSystem(self._conf)

    def _jpath(self, key: str):
        if key.startswith("/") or ".." in key.split("/"):
            raise ValueError(f"invalid object key {key!r}")
        return self._jvm.org.apache.hadoop.fs.Path(self.base_uri + key)

    def put_bytes(self, key: str, data: bytes) -> str:
        out = self._fs.create(self._jpath(key), True)  # overwrite=True
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        return self.uri(key)

    def get_bytes(self, key: str) -> bytes:
        p = self._jpath(key)
        if not self._fs.exists(p):
            raise FileNotFoundError(self.uri(key))
        stream = self._fs.open(p)
        try:
            util = self._jvm.org.apache.commons.io.IOUtils
            return bytes(util.toByteArray(stream))
        finally:
            stream.close()

    def exists(self, key: str) -> bool:
        return bool(self._fs.exists(self._jpath(key)))

    def delete(self, key: str) -> None:
        p = self._jpath(key)
        if self._fs.exists(p):
            self._fs.delete(p, False)

    def list_keys(self, prefix: str = "") -> list[str]:
        if not self._fs.exists(self._base_path):
            return []
        # Strip against the fs-qualified base: Path.toString() normalizes
        # URIs (e.g. file:///x -> file:/x), so the raw base_uri string is
        # not a reliable prefix.
        base = self._fs.makeQualified(self._base_path).toString().rstrip("/") + "/"
        out: list[str] = []
        it = self._fs.listFiles(self._base_path, True)  # recursive
        while it.hasNext():
            status = it.next()
            full = status.getPath().toString()
            key = full[len(base):] if full.startswith(base) else full
            if key.startswith(prefix):
                out.append(key)
        return sorted(out)

    def uri(self, key: str) -> str:
        self._jpath(key)  # validate
        return self.base_uri + key

    def resolve(self, uri: str) -> str:
        if not uri.startswith(self.base_uri):
            raise ValueError(
                f"URI {uri!r} is not in this store (expected {self.base_uri}*)"
            )
        return uri


class TTLCache:
    """KV cache with per-entry expiry (reference: 24 h insights TTL,
    ``src/services/mod.rs:107``), bounded to ``CACHE_MAX_BYTES`` as an LRU.
    ``clock`` is injectable for tests. One lock guards it: request threads
    and the job worker share one cache."""

    def __init__(self, ttl_s: float = 24 * 3600.0, clock: Callable[[], float] = time.time):
        self.ttl_s = ttl_s
        self._clock = clock
        self._data: OrderedDict[str, tuple[float, str]] = OrderedDict()
        self._bytes = 0
        self._lock = threading.Lock()

    def get(self, key: str) -> str | None:
        with self._lock:
            entry = self._data.get(key)
            if entry is None:
                return None
            written_at, value = entry
            if self._clock() - written_at >= self.ttl_s:
                self._drop(key)  # expired -> recompute-on-miss path
                return None
            self._data.move_to_end(key)
            return value

    def put(self, key: str, value: str) -> None:
        size = len(key) + len(value)
        with self._lock:
            self._drop(key)
            if size > CACHE_MAX_BYTES:
                return  # would evict everything else and still not fit
            self._data[key] = (self._clock(), value)
            self._bytes += size
            while self._bytes > CACHE_MAX_BYTES:
                self._drop(next(iter(self._data)))

    def pop(self, key: str) -> str | None:
        with self._lock:
            return self._drop(key)

    def _drop(self, key: str) -> str | None:
        """Remove ``key``, returning its value; the caller holds the lock."""
        entry = self._data.pop(key, None)
        if entry is None:
            return None
        self._bytes -= len(key) + len(entry[1])
        return entry[1]

    def __contains__(self, key: str) -> bool:
        return self.get(key) is not None

    def __len__(self) -> int:
        return len(self._data)
