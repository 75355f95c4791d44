"""Covering stored indexes (operators/store.py): the stored LSH and grid
rows carry the embedding, so a warm probe is one Spark job with no join
back to the embeddings table. Pinned here: freshness under an in-place
value edit, also between two algorithms of one library; the
empty-candidate fallback for out-of-library queries; the warm probe's
driver cost; the stored bucket key; the bounded stopping-radius prefix
(grid.stop_radius_topk) against the two-window form it replaced; empty
and emptied libraries; the stamp in the IVF centroid rows; and the
stored-state reads of a warm probe; the job count of out-of-library
searches; the local frame a probe returns; and the resident copy a
warm probe scans: no parquet read, fresh after a rebuild or a foreign
write, kept across another library's rebuild."""

from __future__ import annotations

import math
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from tests.oracle_harness import compare  # noqa: E402
from vector_db_service_spark import oracles  # noqa: E402
from vector_db_service_spark.operators import grid as grid_ops  # noqa: E402
from vector_db_service_spark.operators import lsh as lsh_ops  # noqa: E402
from vector_db_service_spark.operators import store  # noqa: E402
from vector_db_service_spark.operators.knn import (  # noqa: E402
    local_top_k, query_vector_row, score_all, top_k,
)
from vector_db_service_spark.sources.tables import embedding_dim, load  # noqa: E402

pytestmark = pytest.mark.smoke


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _probes(spark, sf_dir: str, root: str, q: int, lsh_lib: int, grid_lib: int, k: int = 10):
    return {
        "lsh": (
            lambda: store.lsh_probe(spark, sf_dir, library=lsh_lib, query_id=q, k=k, root=root),
            lambda: lsh_ops.search(spark, sf_dir, library=lsh_lib, query_id=q, k=k,
                                   metric="cosine"),
        ),
        "grid": (
            lambda: store.grid_probe(spark, sf_dir, library=grid_lib, query_id=q, k=k,
                                     root=root),
            lambda: grid_ops.search(spark, sf_dir, library=grid_lib, query_id=q, k=k,
                                    metric="euclidean"),
        ),
    }


# --- freshness: an in-place value edit ---------------------------------------

def test_in_place_value_edit_rebuilds_covering_index(spark, sf_dir, tmp_path):
    """Rewrite one vector's values, keeping the row count and the max
    vec_id. The stored probes must score the new values: the stamp in
    each index partition is the table's file signature, which the
    rewrite changes."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "corpus")
    os.makedirs(d)
    path = os.path.join(d, "embeddings.parquet")
    table = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    pq.write_table(table, path)
    root = str(tmp_path / "idx")
    q = 0
    _, qlabel = query_vector_row(spark, d, q)
    lsh_lib, grid_lib = (qlabel + 1) % 10, (qlabel + 2) % 10
    probes = _probes(spark, d, root, q, lsh_lib, grid_lib)
    before = {name: _rows(stored()) for name, (stored, _) in probes.items()}

    # the best stored answer of each probe moves onto the query vector
    # (live score 1.0 under cosine, 1/(1+0) under euclidean)
    targets = {before["lsh"][0][0], before["grid"][0][0]}
    rows = table.to_pylist()
    qvec = next(r["embedding"] for r in rows if r["vec_id"] == q)
    for r in rows:
        if r["vec_id"] in targets:
            r["embedding"] = list(qvec)
    edited = pa.Table.from_pylist(rows, schema=table.schema)
    assert edited.num_rows == table.num_rows
    pq.write_table(edited, path)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    want = {
        "lsh": oracles.lsh_search_sql(lsh_ops.hyperplanes(len(qvec)), q, 10, "cosine",
                                      library=lsh_lib),
        "grid": oracles.grid_search_sql(q, 10, "euclidean", library=grid_lib),
    }
    for name, (stored, derived) in probes.items():
        got = stored()
        assert compare(got, con.execute(want[name]).fetchdf()) == [], name
        rows_now = _rows(got)
        assert rows_now == _rows(derived()), name
        assert rows_now[0][2] == 1.0 and rows_now != before[name], name


def test_edit_between_two_algorithms_of_one_library(spark, sf_dir, tmp_path):
    """One library probed through both stored indexes, the data edited in
    place, then grid probed before lsh: the grid rebuild must not make
    the lsh partition, still built from the old data, look fresh. Each
    table's partition carries the stamp of the data its rows came from."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "corpus")
    os.makedirs(d)
    path = os.path.join(d, "embeddings.parquet")
    table = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    pq.write_table(table, path)
    root = str(tmp_path / "idx")
    q = 0
    _, qlabel = query_vector_row(spark, d, q)
    lib = (qlabel + 1) % 10
    probes = _probes(spark, d, root, q, lib, lib)
    before = {name: _rows(stored()) for name, (stored, _) in probes.items()}

    target = before["lsh"][0][0]
    rows = table.to_pylist()
    qvec = next(r["embedding"] for r in rows if r["vec_id"] == q)
    for r in rows:
        if r["vec_id"] == target:
            r["embedding"] = list(qvec)
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema), path)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    want = {
        "lsh": oracles.lsh_search_sql(lsh_ops.hyperplanes(len(qvec)), q, 10, "cosine",
                                      library=lib),
        "grid": oracles.grid_search_sql(q, 10, "euclidean", library=lib),
    }
    for name in ("grid", "lsh"):
        stored, derived = probes[name]
        got = stored()
        assert compare(got, con.execute(want[name]).fetchdf()) == [], name
        assert _rows(got) == _rows(derived()), name
    lsh_now = _rows(probes["lsh"][0]())
    assert lsh_now[0][:1] == (target,) and lsh_now[0][2] == 1.0, lsh_now[0]


# --- out-of-library queries: the empty-candidate fallback --------------------

def _far_corpus(tmp_path) -> tuple[str, int]:
    """Library 1 is 40 jittered copies of v; library 2 holds -v. Every
    library-1 signature is the complement of the query's (no LSH
    candidate) and every library-1 cell is far from the query's in every
    dimension (no grid candidate), so both probes of library 1 take the
    fallback. Library 3 is an exact copy of vector 0 (a library-1 row)
    and 11 more jittered copies of v, so a query of vector 0 finds
    candidates there in both indexes. Returns (sf_dir, query id)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    dim = 64
    rng = np.random.RandomState(5)
    planes = np.asarray(lsh_ops.hyperplanes(dim))
    while True:
        v = rng.normal(0, 1, dim)
        if np.min(np.abs(planes @ v)) > 0.5:
            break
    lib1 = v + 1e-3 * rng.normal(0, 1, (40, dim))
    lib3 = v + 1e-3 * rng.normal(0, 1, (11, dim))
    vecs = np.vstack([lib1, -v[None, :], lib1[:1], lib3]).astype(np.float32)
    labels = [1] * 40 + [2] + [3] * 12
    d = str(tmp_path / "far")
    os.makedirs(d)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array([list(map(float, x)) for x in vecs], pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }),
        os.path.join(d, "embeddings.parquet"),
    )
    return d, 40


@pytest.mark.parametrize("k", [1, 10])
def test_out_of_library_fallback_equals_derived(spark, tmp_path, k):
    d, q = _far_corpus(tmp_path)
    root = str(tmp_path / "idx")
    qvec, _ = query_vector_row(spark, d, q)
    lib1 = load(spark, d, "embeddings").filter("label = 1")
    assert lsh_ops.candidates(lib1, qvec, lsh_ops.hyperplanes(len(qvec))).isEmpty()
    for name, (stored, derived) in _probes(spark, d, root, q, 1, 1, k).items():
        got = _rows(stored())
        assert len(got) == k, name
        assert got == _rows(derived()), name


@pytest.mark.parametrize("name", ["lsh", "grid"])
def test_out_of_library_searches_run_one_job_unless_the_fallback_fires(spark, tmp_path, name):
    """Warm, a search or stored probe whose query is outside the library
    is 1 Spark job when it finds candidates (no emptiness probe runs
    first) and exactly 2 when the fallback fires: the empty collect,
    then the fallback's own job."""
    d, q = _far_corpus(tmp_path)
    root = str(tmp_path / "idx")
    for library, query, want in ((3, 0, 1), (1, q, 2)):
        stored, derived = _probes(spark, d, root, query, library, library)[name]
        for build in (stored, derived):
            # the first stored probe builds the store, the second reads
            # its stored state into the memo
            warm = [_rows(build()) for _ in range(2)][-1]
            rows, jobs = _jobs(spark, lambda: _rows(build()))
            assert rows == warm and rows, (library, build)
            assert jobs == want, (library, build, jobs)
        assert _rows(stored()) == _rows(derived()), library


# --- warm probe driver cost ----------------------------------------------------

# py4j commands of a warm build and collect of each stored probe, as
# measured at sf0.01
PY4J_COMMANDS = {"lsh": 33, "grid": 40, "ivf": 21}


@pytest.mark.parametrize("probe", list(PY4J_COMMANDS))
def test_warm_probe_builds_in_few_py4j_commands(spark, sf_dir, tmp_path, probe, monkeypatch):
    """A warm stored probe, built and collected, sends at most its
    PY4J_COMMANDS commands to the JVM."""
    from py4j import protocol

    root = str(tmp_path / "idx")
    _, label = query_vector_row(spark, sf_dir, 11)
    build = _stored_probes(spark, sf_dir, root, 11, label)[probe]
    for _ in range(2):
        build().collect()
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            sent.append(command)
        return real(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    build().collect()
    monkeypatch.undo()
    assert 1 <= len(sent) <= PY4J_COMMANDS[probe], len(sent)


# --- the resident stored copy ----------------------------------------------------

def _stored_probes(spark, sf_dir: str, root: str, q: int, library: int) -> dict:
    """Every stored probe of `library` (IVF probes the best two lists)."""
    return {
        "lsh": lambda: store.lsh_probe(spark, sf_dir, library=library, query_id=q, root=root),
        "grid": lambda: store.grid_probe(spark, sf_dir, library=library, query_id=q,
                                         root=root),
        "ivf": lambda: store.ivf_probe(spark, sf_dir, query_id=q, nprobe=2, root=root),
    }


def _scans(df) -> list[str]:
    """Class names of the scans the physical plan of `df` reads (its
    leaves; a cached frame's own plan hangs below its scan, not in the
    tree)."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.length())]


@pytest.mark.parametrize("probe", ["lsh", "grid", "ivf"])
def test_warm_stored_probe_scans_memory(spark, sf_dir, tmp_path, probe, monkeypatch):
    """The job of a warm stored probe scans the resident copy of its
    rows, no parquet file: lsh and grid their stored partition, IVF the
    libraries' copies (knn.resident) it shares with library k-NN."""
    root = str(tmp_path / "idx")
    _, label = query_vector_row(spark, sf_dir, 11)
    build = _stored_probes(spark, sf_dir, root, 11, label)[probe]
    for _ in range(2):
        build().collect()
    collected = []
    for module, name in ((lsh_ops, "top_k"), (grid_ops, "stop_radius_prefix")):
        real = getattr(module, name)
        monkeypatch.setattr(module, name,
                            lambda *a, real=real: collected.append(real(*a)) or collected[-1])
    df = build()
    scans = _scans(df if probe == "ivf" else collected[-1])
    assert scans and set(scans) == {"InMemoryTableScanExec"}, scans


def _probe_copy(spark, d: str, root: str, library: int):
    """The resident copy of `library`'s stored lsh partition."""
    return store._library_rows(spark, os.path.join(store.index_root(d, root), "lsh_index"),
                               library)


def test_stored_copy_is_fresh_after_a_rebuild_and_a_foreign_write(spark, sf_dir, tmp_path):
    """The resident copy of a stored partition serves what the partition
    holds now, and the copy it supersedes is released (unpersisted):
    after a rebuild from rewritten data, and after another writer
    rewrote the partition file in place (keeping its stamp). Without the
    release, Spark's CacheManager would match the new read of the
    partition to the old copy by its path."""
    import time

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tests.test_resident_state import _blocks
    from vector_db_service_spark.benchutil import persisted_rdds

    d = _copy_corpus(sf_dir, tmp_path)
    root = str(tmp_path / "idx")
    _, qlabel = query_vector_row(spark, d, 0)
    lib = (qlabel + 1) % 10
    probe = _probes(spark, d, root, 0, lib, lib)["lsh"][0]
    before = _rows(probe())
    old = _probe_copy(spark, d, root, lib)

    # a rebuild: the best answer's vector becomes the query vector
    table = pq.read_table(os.path.join(d, "embeddings.parquet"))
    rows = table.to_pylist()
    qvec = next(r["embedding"] for r in rows if r["vec_id"] == 0)
    for r in rows:
        if r["vec_id"] == before[0][0]:
            r["embedding"] = list(qvec)
    time.sleep(0.01)
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema),
                   os.path.join(d, "embeddings.parquet"))
    rebuilt = _rows(probe())
    assert rebuilt[0][0] == before[0][0] and rebuilt[0][2] == 1.0, rebuilt
    new = _probe_copy(spark, d, root, lib)
    assert new is not old and not old.is_cached and new.is_cached

    # a foreign in-place write of the partition: the best row is gone
    part = os.path.join(store.index_root(d, root), "lsh_index", f"label={lib}")
    blocks = _blocks(new)
    for name in os.listdir(part):
        path = os.path.join(part, name)
        if name.endswith(".crc"):
            os.remove(path)
        elif name.endswith(".parquet"):
            stored = pq.read_table(path)
            time.sleep(0.01)
            pq.write_table(stored.filter(pc.not_equal(stored["vec_id"], rebuilt[0][0])), path)
    after = _rows(probe())
    assert after[:len(rebuilt) - 1] == rebuilt[1:], after
    foreign = _probe_copy(spark, d, root, lib)
    assert foreign is not new and not new.is_cached
    assert blocks not in persisted_rdds(spark)


def test_rebuild_of_one_library_keeps_the_others_stored_copy(spark, sf_dir, tmp_path):
    """Rebuilding library M leaves library L's resident stored copy
    cached and a memo hit: L's next probe runs one job over that copy
    and serves the same rows."""
    from pyspark import StorageLevel

    root = str(tmp_path / "idx")
    _, qlabel = query_vector_row(spark, sf_dir, 0)
    lib_l, lib_m = (qlabel + 1) % 10, (qlabel + 2) % 10
    probes = {lib: _probes(spark, sf_dir, root, 0, lib, lib)["lsh"][0] for lib in (lib_l, lib_m)}
    # the first probe builds the store, the second reads its stamp
    want = {lib: [_rows(probe()) for _ in range(2)][-1] for lib, probe in probes.items()}
    copies = {lib: _probe_copy(spark, sf_dir, root, lib) for lib in probes}
    store.rebuild_library(spark, sf_dir, lib_m, "lsh", root=root)
    assert _rows(probes[lib_m]()) == want[lib_m]
    assert _probe_copy(spark, sf_dir, root, lib_m) is not copies[lib_m]
    kept = _probe_copy(spark, sf_dir, root, lib_l)
    assert kept is copies[lib_l] and kept.storageLevel != StorageLevel.NONE
    assert _jobs(spark, lambda: _rows(probes[lib_l]())) == (want[lib_l], 1)


def test_unstatable_source_is_read_plainly(spark, tmp_path):
    """A source the driver cannot stat (as on a remote store) has no file
    identity: its rows come back with `sq`, uncached and unmemoized, so
    another writer's change of them is read on the next call."""
    from vector_db_service_spark.operators.knn import keep_resident

    source = str(tmp_path / "remote" / "label=1")
    calls = []

    def rows():
        calls.append(1)
        return spark.createDataFrame([(1, [1.0, 2.0])], "vec_id int, embedding array<double>")

    for n in (1, 2):
        copy = keep_resident(source, (), rows)
        assert not copy.is_cached and len(calls) == n
        assert [tuple(r) for r in copy.collect()] == [(1, [1.0, 2.0], 5.0)]


# --- the stored bucket key -----------------------------------------------------

def test_bucket_sql_packs_signature_bits(spark):
    """lsh.bucket_sql is bucket_key(signature_bits(...)) for vectors with
    defined projections, and NULL for a NULL vector or element."""
    dim = 8
    planes = lsh_ops.hyperplanes(dim)
    rnd = random.Random(3)
    vecs = [[rnd.uniform(-1, 1) for _ in range(dim)] for _ in range(30)]
    vecs += [[0.0] * dim, [float("nan")] + [0.5] * (dim - 1), None, [None] + [0.5] * (dim - 1)]
    df = spark.createDataFrame(list(enumerate(vecs)), "id int, embedding array<float>")
    got = {
        r["id"]: (r["new"], r["old"])
        for r in df.select(
            "id",
            F.expr(lsh_ops.bucket_sql("embedding", planes)).alias("new"),
            lsh_ops.bucket_key(lsh_ops.signature_bits("embedding", planes)).alias("old"),
        ).collect()
    }
    for i in range(len(vecs) - 2):
        assert got[i][0] == got[i][1], i
    assert got[len(vecs) - 2][0] is None and got[len(vecs) - 1][0] is None
    assert lsh_ops.complement_key([1, 0, 1]) == 0b010


# --- the bounded stopping-radius prefix ---------------------------------------

def _two_window_topk(scored, k: int):
    """The form stop_radius_topk replaced: the cumulative-count and
    minimum-radius windows over EVERY reachable row, then the top-k."""
    upto_r = Window.orderBy("r_needed").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    whole = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cand = (
        scored.withColumn("_cum", F.count(F.lit(1)).over(upto_r))
        .withColumn(
            "_stop_r",
            F.coalesce(
                F.min(F.when(F.col("_cum") >= 2 * k, F.col("r_needed"))).over(whole),
                F.lit(grid_ops.MAX_RADIUS),
            ),
        )
        .filter(F.col("r_needed") <= F.col("_stop_r"))
        .drop("_cum", "_stop_r")
    )
    return top_k(cand, k)


def _levels(rnd: random.Random, counts: list[int], scores: list) -> list[tuple]:
    rows = []
    for r, n in enumerate(counts):
        for _ in range(n):
            rows.append((len(rows), 3, r, rnd.choice(scores)))
    rnd.shuffle(rows)
    return rows


def _cases() -> list[tuple[str, int, list[tuple]]]:
    nan = float("nan")
    cases = []
    for k in (1, 3, 10, 100):
        rnd = random.Random(k)
        fine = [rnd.random() for _ in range(50)]
        cases += [
            # count(<= R-1) = 2k-1: R is the next level
            (f"edge-k{k}", k, _levels(rnd, [2 * k - 1, k + 2, 3 * k], fine)),
            (f"edge-at-0-k{k}", k, _levels(rnd, [2 * k - 1, 1, 5, 4 * k], fine)),
            # few distinct scores: ties at the prefix cut and the top-k cut
            (f"ties-k{k}", k, _levels(rnd, [k, 2 * k, 3 * k, k], [0.25, 0.5, 0.75])),
            (f"null-nan-k{k}", k, _levels(rnd, [k, k + 1, 2 * k, 2 * k],
                                         [None, nan, 0.5, 0.5, 0.1, 1.0])),
            # R = 3 with fewer than 2k reachable rows
            (f"sparse-k{k}", k, _levels(rnd, [0, (2 * k - 1) // 2, 0, k], fine)),
            (f"deep-k{k}", k, _levels(rnd, [1, 2, 3, 8 * k], fine + [None, nan])),
        ]
    return cases


def test_stop_radius_topk_equals_two_window_form(spark):
    """The collected prefix finished on the driver equals the two
    windows over every reachable row, in Spark's order."""
    for name, k, rows in _cases():
        df = spark.createDataFrame(
            rows, "vec_id long, label int, r_needed long, score double"
        )
        got = grid_ops.stop_radius_topk(grid_ops.stop_radius_prefix(df, k).collect(), k)
        want = _rows(_two_window_topk(df, k))
        same = len(got) == len(want) and all(
            g[:2] == w[:2] and (g[2] == w[2] or (
                g[2] is not None and w[2] is not None and math.isnan(g[2]) and math.isnan(w[2])
            ))
            for g, w in zip(got, want)
        )
        assert same, (name, got, want)
        assert got, name


def test_local_top_k_round_trips_exactly(spark, sf_dir):
    """knn.local_top_k has top_k's schema, returns collected rows
    exactly (NULL label, NULL, NaN and -0.0 scores, an empty list), and
    collecting it runs no Spark job."""
    emb = load(spark, sf_dir, "embeddings")
    want = top_k(score_all(emb, [1.0] * embedding_dim(sf_dir), "cosine"), 3)
    nan = float("nan")
    for found in ([], [(7, None, nan), (3, 2, -0.0), (5, 4, None), (1 << 40, 0, 0.123456),
                       (2, 1, 1e-06), (9, 3, float("inf"))], _rows(want)):
        df = local_top_k(emb, found)
        assert df.schema == want.schema
        got, jobs = _jobs(spark, lambda: _rows(df))
        assert jobs == 0
        assert len(got) == len(found)
        for g, f in zip(got, found):
            assert g[:2] == tuple(f[:2]), (g, f)
            assert (g[2] is None and f[2] is None) or (
                math.isnan(g[2]) and math.isnan(f[2])) or (
                g[2] == f[2] and math.copysign(1, g[2]) == math.copysign(1, f[2])), (g, f)


# --- empty and emptied libraries -----------------------------------------------

def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"store-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "store")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(list(sc.statusTracker().getJobIdsForGroup(group)))


def _copy_corpus(sf_dir: str, tmp_path, keep=None) -> str:
    """A private copy of the embeddings table, of the rows `keep(row)`
    accepts when given."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "corpus")
    os.makedirs(d, exist_ok=True)
    table = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    if keep is not None:
        table = pa.Table.from_pylist([r for r in table.to_pylist() if keep(r)],
                                     schema=table.schema)
    pq.write_table(table, os.path.join(d, "embeddings.parquet"))
    return d


def test_empty_library_is_fresh_after_one_rebuild(spark, sf_dir, tmp_path):
    """A library with no rows in a store where other libraries exist:
    the first probe records it empty in the registry, and every later
    probe returns no rows without a Spark job."""
    root = str(tmp_path / "idx")
    probes = _probes(spark, sf_dir, root, 0, 11, 11)
    for stored, _ in _probes(spark, sf_dir, root, 0, 1, 2).values():
        stored().collect()
    for name, (stored, derived) in probes.items():
        runs = [_jobs(spark, lambda: _rows(stored())) for _ in range(3)]
        assert [rows for rows, _ in runs] == [_rows(derived())] * 3 == [[]] * 3, name
        assert [jobs for _, jobs in runs[1:]] == [0, 0], (name, runs)


def test_empty_library_in_a_fresh_store(spark, sf_dir, tmp_path):
    """Probing an empty library first leaves a store that later probes,
    of it and of non-empty libraries, read without error."""
    root = str(tmp_path / "idx")
    for name, (stored, derived) in _probes(spark, sf_dir, root, 0, 11, 11).items():
        assert _rows(stored()) == [] == _rows(derived()), name
    for name, (stored, derived) in _probes(spark, sf_dir, root, 0, 1, 2).items():
        got = _rows(stored())
        assert got and got == _rows(derived()), name
    for name, (stored, _) in _probes(spark, sf_dir, root, 0, 11, 11).items():
        assert [_jobs(spark, lambda: _rows(stored()))[0] for _ in range(2)] == [[], []], name
        assert _jobs(spark, lambda: _rows(stored())) == ([], 0), name


def test_emptied_library_serves_no_deleted_vectors(spark, sf_dir, tmp_path):
    """Libraries 1 (lsh) and 2 (grid) are built, then the data is
    rewritten without them. The stored probes must equal the derived
    search and the DuckDB oracle (no rows), the libraries' old
    partitions are gone, and the next probes rebuild nothing."""
    import duckdb

    _, qlabel = query_vector_row(spark, sf_dir, 0)
    q = 0 if qlabel not in (1, 2) else 3
    d = _copy_corpus(sf_dir, tmp_path)
    root = str(tmp_path / "idx")
    probes = _probes(spark, d, root, q, 1, 2)
    for stored, _ in probes.values():
        assert _rows(stored())
    _copy_corpus(sf_dir, tmp_path, keep=lambda r: r["label"] not in (1, 2))

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'")
    qvec, _ = query_vector_row(spark, d, q)
    want = {
        "lsh": oracles.lsh_search_sql(lsh_ops.hyperplanes(len(qvec)), q, 10, "cosine",
                                      library=1),
        "grid": oracles.grid_search_sql(q, 10, "euclidean", library=2),
    }
    for name, (stored, derived) in probes.items():
        got = stored()
        assert compare(got, con.execute(want[name]).fetchdf()) == [], name
        assert _rows(got) == [] == _rows(derived()), name
        for _ in range(2):
            assert _jobs(spark, lambda: _rows(stored())) == ([], 0), name
    base = store.index_root(d, root)
    for table, label in (("lsh_index", 1), ("grid_index", 2), ("grid_bounds", 2)):
        assert not os.path.exists(os.path.join(base, table, f"label={label}")), table



def test_concurrent_stale_checks_rebuild_once():
    """store._fresh, the check-lock-recheck-rebuild step of every stored
    library and of the IVF centroids: threads that find one stale state
    at once rebuild it once and all get the rebuilt state."""
    import threading
    import time
    import uuid

    state, built, got = [], [], []

    def rebuild():
        time.sleep(0.01)
        built.append(1)
        state.append(("fresh",))
        return state[0]

    def client():
        got.append(store._fresh(("test", key),
                                lambda: state[0] if state else None, rebuild))

    key = uuid.uuid4().hex
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert built == [1] and got == [("fresh",)] * 16


# --- IVF centroids: the stamp in the rows ----------------------------------------

def test_ivf_centroid_rows_carry_the_stamp(spark, sf_dir, tmp_path):
    """The centroid table stamps every row (there is no separate meta
    table), a warm probe builds with no Spark job and runs one, and an
    emptied corpus is rebuilt once, not on every probe."""
    d = _copy_corpus(sf_dir, tmp_path)
    root = str(tmp_path / "idx")

    def probe():
        return store.ivf_probe(spark, d, query_id=0, k=10, nprobe=2, root=root)

    probe().collect()
    base = store.index_root(d, root)
    stamps = {r["source_sig"] for r in spark.read.parquet(os.path.join(base, "ivf_centroids"))
              .select("source_sig").collect()}
    assert stamps == {store._source_stamp(d)}
    assert sorted(os.listdir(base)) == ["ivf_centroids"]
    for _ in range(3):
        df, built = _jobs(spark, probe)
        assert built == 0
        assert _jobs(spark, df.collect)[1] == 1

    _copy_corpus(sf_dir, tmp_path, keep=lambda r: False)

    def no_query_vector():
        with pytest.raises(KeyError):
            probe()

    runs = [_jobs(spark, no_query_vector)[1] for _ in range(3)]
    assert runs[1:] == [0, 0], runs


@pytest.mark.parametrize("probe, reads", [("lsh", 1), ("grid", 2), ("ivf", 1)])
def test_warm_probe_reads_stored_state_once_per_table(spark, sf_dir, tmp_path, probe, reads,
                                                      monkeypatch):
    """Before its own job, a warm probe reads each stored table it needs
    once: lsh its index stamp, grid its index stamp and its bounds row,
    IVF the centroid rows."""
    root = str(tmp_path / "idx")
    run = {
        "lsh": lambda: store.lsh_probe(spark, sf_dir, library=1, root=root),
        "grid": lambda: store.grid_probe(spark, sf_dir, library=2, root=root),
        "ivf": lambda: store.ivf_probe(spark, sf_dir, nprobe=2, root=root),
    }[probe]
    for _ in range(2):
        run().collect()
    calls = []
    stored = store._stored
    monkeypatch.setattr(store, "_stored", lambda *a, **kw: calls.append(a[1]) or stored(*a, **kw))
    run()
    assert len(calls) == reads, calls
