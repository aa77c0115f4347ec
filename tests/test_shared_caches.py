"""Shared-frame registry (`catalog.shared_frame`): every frame that
several queries share goes through one get-or-build rule, one lock
rule and one eviction rule, and `bench.clear_shared_caches()` empties
it so each bench pass starts cold. These tests pin:

- no module in the package keeps a hand-rolled cache dict instead;
- clearing drops every frame, load_table's relations and the probe
  broadcast (unpersisted) included;
- 8 threads on a cold registry build each frame exactly once, nested
  builds included, without deadlock, and independent keys never wait
  on each other;
- a session restart leaves nothing keyed by the stopped
  application."""

from __future__ import annotations

import ast
import os
import re
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import bench
import dataingestiontohana_spark as pkg
from dataingestiontohana_spark import catalog
from tests.conftest import SF0001

TIMEOUT_S = 120  # a deadlocked build shows up as a future timeout


def _dict_valued(node: ast.AST) -> bool:
    value = node.value
    if isinstance(value, (ast.Dict, ast.DictComp)):
        return True
    if isinstance(value, ast.Call):
        fn = value.func
        name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", "")
        if name in ("dict", "defaultdict", "OrderedDict"):
            return True
    ann = getattr(node, "annotation", None)
    return ann is not None and "dict" in ast.unparse(ann).lower()


def test_no_cache_like_global_evades_the_naming_rule():
    """A module-level dict named like a cache or memo is a hand-rolled
    shared-frame cache: it escapes the registry's lock, eviction and
    clear(), so it would silently warm whichever bench entry runs
    second. Shared frames go through catalog.shared_frame instead."""
    pat = re.compile(r"(cache|memo)", re.IGNORECASE)
    found = []
    for path in sorted(Path(pkg.__file__).parent.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets = [node.target]
            else:
                continue
            for t in targets:
                if (isinstance(t, ast.Name) and pat.search(t.id)
                        and _dict_valued(node)):
                    found.append(f"{path.name}:{node.lineno} {t.id}")
    assert not found, (
        f"module-level cache dicts (use catalog.shared_frame): {found}"
    )


def test_clear_empties_every_shared_frame(spark):
    t0 = catalog.load_table(spark, SF0001, "orders")
    catalog.shared_frame(spark, "sentinel", (1,), object)
    assert catalog._FRAMES
    bench.clear_shared_caches()
    assert not catalog._FRAMES
    # the bench's cold pass re-opens every relation
    assert catalog.load_table(spark, SF0001, "orders") is not t0


def test_clear_unpersists_the_probe_broadcast(spark, monkeypatch):
    """The probe broadcast is retired by the next call and by clear():
    both unpersist it, not merely forget it."""
    from pyspark import Broadcast

    from dataingestiontohana_spark.plans.llm_similarity import (
        embed_neardup_broadcast,
    )

    unpersisted = []
    real = Broadcast.unpersist

    def spy(self, blocking=False):
        unpersisted.append(self)
        return real(self, blocking)

    monkeypatch.setattr(Broadcast, "unpersist", spy)
    df = spark.createDataFrame(
        [(i, [float(i + 1)] * 64) for i in range(4)],
        "vec_id long, embedding array<double>",
    )

    def registered():
        return [v for k, v in catalog._FRAMES.items()
                if k[1] == "probe_broadcast"]

    bench.clear_shared_caches()
    embed_neardup_broadcast(df, df, tau=0.5)
    (first,) = registered()
    embed_neardup_broadcast(df, df, tau=0.5)
    (second,) = registered()
    assert second is not first and unpersisted == [first]
    bench.clear_shared_caches()
    assert not registered() and unpersisted == [first, second]


def test_cold_registry_builds_each_frame_once_under_8_threads(
    spark, monkeypatch
):
    """8 threads request the same shared frames in rotated orders,
    including the nested chains _dhash_frame -> _synthetic_media and
    _basket_pairs_cached -> _basket_items_cached -> load_table. Each
    build is slowed so racing callers overlap it; every (name, key)
    must still build exactly once and every thread must get the same
    object."""
    from dataingestiontohana_spark.plans import multimodal, relational_ext

    real = catalog.shared_frame
    builds: list[tuple] = []

    def counting(spark_, name, key, build):
        def slow_build():
            builds.append((name, key))
            time.sleep(0.05)
            return build()

        return real(spark_, name, key, slow_build)

    for mod in (catalog, multimodal, relational_ext):
        monkeypatch.setattr(mod, "shared_frame", counting)

    getters = [
        lambda: multimodal._dhash_frame(spark),
        lambda: multimodal._synthetic_media(spark),
        lambda: multimodal._ahash_frame(spark),
        lambda: relational_ext._basket_pairs_cached(spark, SF0001),
        lambda: relational_ext._item_support_cached(spark, SF0001),
        lambda: relational_ext._basket_items_cached(spark, SF0001),
        lambda: catalog.load_table(spark, SF0001, "lineitem"),
    ]
    n = 8
    start = threading.Barrier(n)

    def worker(i: int) -> list:
        start.wait()
        order = getters[i % len(getters):] + getters[:i % len(getters)]
        got = {id(g): g() for g in order}
        return [got[id(g)] for g in getters]

    catalog.clear_shared_frames()
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the threads' bytecode finely
    try:
        with ThreadPoolExecutor(n) as pool:
            futures = [pool.submit(worker, i) for i in range(n)]
            results = [f.result(timeout=TIMEOUT_S) for f in futures]
    finally:
        sys.setswitchinterval(switch)

    counts: dict[tuple, int] = {}
    for b in builds:
        counts[b] = counts.get(b, 0) + 1
    assert counts == {
        ("dhash_frame", ()): 1,
        ("synthetic_media", (64,)): 1,
        ("ahash_frame", ()): 1,
        ("basket_pairs", (SF0001,)): 1,
        ("item_support", (SF0001,)): 1,
        ("basket_items", (SF0001,)): 1,
        ("table", (os.path.abspath(SF0001), "lineitem")): 1,
    }
    for col in zip(*results):
        assert all(v is col[0] for v in col)


def test_independent_keys_never_share_a_lock(spark):
    """A build of one key must not block a build of another: the
    first build waits until the second has run, which only happens if
    the second key has its own lock."""
    first_started = threading.Event()
    second_built = threading.Event()

    def first_build():
        first_started.set()
        assert second_built.wait(TIMEOUT_S / 2), "second key was blocked"
        return "first"

    def second_build():
        second_built.set()
        return "second"

    with ThreadPoolExecutor(2) as pool:
        a = pool.submit(catalog.shared_frame, spark, "lk", ("a",),
                        first_build)
        assert first_started.wait(TIMEOUT_S)
        b = pool.submit(catalog.shared_frame, spark, "lk", ("b",),
                        second_build)
        assert b.result(timeout=TIMEOUT_S) == "second"
        assert a.result(timeout=TIMEOUT_S) == "first"
    catalog.clear_shared_frames("lk")


def test_restart_evicts_every_frame_of_the_stopped_session(
    spark, monkeypatch
):
    """After a session restart (a new applicationId in the same
    process), one request must drop everything keyed by the old
    application, in every shared frame, not only the one requested.
    The restart is simulated by changing the live context's
    applicationId: the registry sees nothing else of a restart, and a
    real stop would kill the session every other test shares."""
    from pyspark import SparkContext

    from dataingestiontohana_spark.plans.llm_dedup import (
        _exact_pairs_cached,
    )
    from dataingestiontohana_spark.plans.multimodal import _synthetic_media
    from dataingestiontohana_spark.plans.relational_ext import (
        _basket_items_cached,
    )

    old = spark.sparkContext.applicationId
    catalog.clear_shared_frames()
    _exact_pairs_cached(spark, SF0001)
    _basket_items_cached(spark, SF0001)
    _synthetic_media(spark)
    assert len({k for k in catalog._FRAMES if k[0] == old}) == 5

    new = f"{old}-restarted"
    monkeypatch.setattr(
        SparkContext, "applicationId", property(lambda _: new)
    )
    catalog.load_table(spark, SF0001, "orders")
    assert {k[0] for k in catalog._FRAMES} == {new}
    assert {k[0] for k in catalog._LOCKS} == {new}
    monkeypatch.undo()
    catalog.clear_shared_frames()
