"""One session-scoped store for the trained state sibling operators share.

Several registry entries build the same expensive intermediate from the
same input: the embedding-audit family shares one pair + connected-
components stage, the ANN gates and the recall report share one trained
PQ codebook and one set of IVF centroids, the BPE entries share one
trained tokenizer, covariance and whitening share one stats pass, and the
PQ scorers share one codebook completeness check. :func:`shared` keeps
the last value built for each ``kind`` and hands it back while the input
is provably the same. Identity comes from the input frame itself, never
from a caller-supplied name (Shark, SIGMOD 2013, reuses in-memory
intermediates by lineage the same way). A slot is reused only when all of
these match:

- the Spark ``applicationId`` (checkpointed and cached blocks die with
  their application);
- ``params``, every build argument besides the input frame;
- ``inputs.sameSemantics(stored_inputs)``, the canonicalized plan;
- a fingerprint of ``inputs.inputFiles()`` as (path, size, mtime), so a
  path rewritten in place misses even though its plan is unchanged.

One slot per kind bounds what the store pins (a checkpoint's executor
blocks, one cache()d stats frame). A miss evicts the old slot BEFORE
building: Spark's CacheManager matches canonicalized plans, so a stats
frame over a rewritten path would otherwise hit the stale cache entry.
Evicted DataFrame values are ``unpersist()``ed. One lock guards only the
dict operations and builds run outside it: two concurrent misses may both
build (identical deterministic results, the later store wins), but a slot
is never torn.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from typing import Any, NamedTuple
from urllib.parse import unquote, urlparse

from pyspark import SparkContext
from pyspark.sql import DataFrame


class _Slot(NamedTuple):
    key: tuple  # (applicationId, params, input-file fingerprint)
    inputs: DataFrame
    value: Any


_SLOTS: dict[str, _Slot] = {}
_LOCK = threading.Lock()


def _file_stamp(inputs: DataFrame, uri: str) -> tuple:
    parsed = urlparse(uri)
    if parsed.scheme in ("", "file"):
        st = os.stat(unquote(parsed.path))
        return (uri, st.st_size, st.st_mtime_ns)
    spark = inputs.sparkSession
    path = spark._jvm.org.apache.hadoop.fs.Path(uri)
    st = path.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(path)
    return (uri, st.getLen(), st.getModificationTime())


def _release(slot: _Slot) -> None:
    sc = SparkContext._active_spark_context
    if sc is None or sc.applicationId != slot.key[0]:
        return  # its blocks died with the application that built them
    values = slot.value if isinstance(slot.value, tuple) else (slot.value,)
    for v in values:
        if isinstance(v, DataFrame):
            v.unpersist()


def shared(
    kind: str, inputs: DataFrame, params: tuple, build: Callable[[], Any]
) -> Any:
    """Return the value stored for ``kind`` when it was built from the
    same input with equal ``params``; otherwise evict the slot, call
    ``build()``, store its result and return it."""
    key = (
        inputs.sparkSession.sparkContext.applicationId,
        params,
        tuple(sorted(_file_stamp(inputs, uri) for uri in inputs.inputFiles())),
    )
    with _LOCK:
        slot = _SLOTS.get(kind)
    if slot is not None and slot.key == key and inputs.sameSemantics(slot.inputs):
        return slot.value
    clear(kind)
    value = build()
    with _LOCK:
        old = _SLOTS.get(kind)
        _SLOTS[kind] = _Slot(key, inputs, value)
    if old is not None:  # a concurrent miss stored first
        _release(old)
    return value


def clear(kind: str | None = None) -> None:
    """Empty one kind's slot, or every slot."""
    with _LOCK:
        kinds = list(_SLOTS) if kind is None else [kind]
        dropped = [_SLOTS.pop(k) for k in kinds if k in _SLOTS]
    for slot in dropped:
        _release(slot)
