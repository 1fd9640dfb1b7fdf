"""Randomized multi-writer concurrency stress (VERDICT r12 item 3).

Every pre-existing commit-race test scripts ONE interleaving; these
tests drive MANY: per schedule, several threads fire a random DML
sequence (append / DELETE / UPDATE / MERGE / OPTIMIZE-or-compact) at
ONE table through the optimistic-concurrency machinery, re-planning on
a lost race exactly as a production caller would (the loser's staged
files are never referenced, so re-invoking the verb against the fresh
snapshot is always sound). Per-thread KEY OWNERSHIP makes the logical
outcome deterministic — each thread's ops touch only its own key range,
so the ops commute across threads and ANY linearization the commit
machinery picks must converge to the same final content.

Asserted per schedule:

- **no lost update** — final content equals the union of per-thread
  serial models (a model mutates only after its op's commit returns);
- **the log replays clean** — dense versions (Delta log / LakeTable),
  unique snapshot ids + a complete v1..vN metadata chain (Iceberg);
- **checksum validates** — the committed ``.crc`` matches a fresh
  replay (DeltaLogTable);
- **CDF net-replay** reproduces the final content and **row ids stay
  unique** under row tracking (the lineage invariants).

Threads (not processes) carry the race: the contended primitive is the
put-if-absent log publish, which threads exercise for real — the GIL is
released across every Spark call and every os-level file op.

This suite found FOUR real bugs in its first runs, each fixed with the
machinery it exposed:

1. commit files published with O_CREAT|O_EXCL then written — a reader
   listing the log could replay an EMPTY just-created commit
   (JSONDecodeError); publication now stages content and hardlinks it
   into place (``publish_exclusive``), so a commit is visible only
   complete (:func:`test_publish_exclusive_is_atomic_and_exclusive`);
2. Iceberg's ``version-hint.text`` trusted blindly — two racing hint
   writes are unordered, so a stale hint hid the race winner's snapshot
   and wedged every later commit; the reader now probes upward from the
   hint like Java Iceberg's HadoopTableOperations
   (:func:`test_iceberg_stale_version_hint_recovers`);
3. every DeltaLogTable DML/maintenance verb computed its commit version
   at COMMIT time (``latest_version() + 1`` after staging), so a
   competitor landing during the plan was silently built over — the
   stress lost a MERGE's update and resurrected DELETE-ed rows;
   snapshot-planned verbs now commit through ``_commit_planned``
   (WriteSerializable validation of every intervening commit, rebase
   over blind appends only);
4. Iceberg ``compact()`` re-read FRESH metadata inside its REPLACE
   commit, sliding the staleness gate past any commit that landed
   during the rewrite — a racing append's rows vanished; the REPLACE
   now pins the planning basis (``append(_basis_meta=…)``) so the gate
   fails loudly and the caller re-plans.
"""

from __future__ import annotations

import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

N_THREADS = 3  # writers per schedule
N_OPS = 3  # ops per writer
MAX_REPLANS = 120  # a starved op fails the schedule loudly
KEYSPACE = 1000  # per-thread key range width


def _is_race(e: Exception) -> bool:
    m = str(e)
    return any(
        s in m
        for s in (
            "concurrent",
            "retry",
            "rebase",
            "snapshot changed",
            "lost the race",
            "already committed",
            "advanced",
        )
    )


def _eventually(fn, rng):
    """Re-plan loop: re-invoke the verb until its commit lands. Only
    recognized race errors retry — anything else is a real failure."""
    for _ in range(MAX_REPLANS):
        try:
            return fn()
        except RuntimeError as e:  # ConcurrentWriteError is a RuntimeError
            if not _is_race(e):
                raise
            time.sleep(rng.uniform(0, 0.01))
    raise AssertionError(f"op starved after {MAX_REPLANS} re-plans")


def _storm(spark, seed: int, make_ops):
    """Run one randomized schedule: N_THREADS workers, each executing
    N_OPS random ops from ``make_ops(tid, rng, model)`` against the
    shared table. Returns the merged expected content {k: v}."""
    models: dict[int, dict[int, int]] = {}
    errs: list[Exception] = []

    def worker(tid: int) -> None:
        rng = random.Random(seed * 1000 + tid)
        model: dict[int, int] = {}
        ops = make_ops(tid, rng, model)
        try:
            for _ in range(N_OPS):
                op = rng.choice(ops)
                _eventually(op, rng)
            models[tid] = model
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(N_THREADS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    want: dict[int, int] = {}
    for m in models.values():
        want.update(m)
    return want


def _ops_for(spark, table, tid: int, rng, model: dict[int, int]):
    """The randomized op vocabulary, shared across all three backends
    via duck typing (append_df / delete / update / merge / neutral).
    Each op mutates ``model`` ONLY after the verb returns (committed);
    a re-planned loser re-runs the whole closure, so effects are
    recorded exactly once per committed op."""
    base = (tid + 1) * KEYSPACE
    seq = {"n": 0}

    def own(pred: str) -> str:
        return f"k >= {base} AND k < {base + KEYSPACE} AND ({pred})"

    def do_append():
        rows = [(base + seq["n"] + j, 1) for j in range(3)]
        table.append_df(spark.createDataFrame(rows, "k INT, v INT"))
        for k, v in rows:
            model[k] = v
        seq["n"] += 10

    def do_delete():
        r = rng.randrange(3)
        table.delete_pred(own(f"k % 3 = {r}"))
        for k in [k for k in model if k % 3 == r]:
            del model[k]

    def do_update():
        table.update_set({"v": "v + 100"}, own("TRUE"))
        for k in model:
            model[k] += 100

    def do_merge():
        ks = sorted(model)[:2] + [base + 900 + seq["n"] % 90]
        src = spark.createDataFrame([(k, 7) for k in ks], "k INT, v INT")
        table.merge_upsert(src)
        for k in ks:
            model[k] = 7
        seq["n"] += 1

    def do_neutral():
        table.neutral()

    # appends weighted up so delete/update/merge have rows to chew on
    return [do_append, do_append, do_delete, do_update, do_merge, do_neutral]


# ------------------------------------------------------------- backends


class _LakeOps:
    def __init__(self, spark, path):
        from ent_fins_lakehouse_spark.sources.lakehouse import LakeTable

        self.t = LakeTable(spark, path)

    def append_df(self, df):
        self.t.insert_into(df)

    def delete_pred(self, pred):
        self.t.delete(pred)

    def update_set(self, assigns, pred):
        self.t.update(assigns, pred)

    def merge_upsert(self, src):
        self.t.merge(src, ["k"])

    def neutral(self):
        self.t.optimize()


class _DeltaOps:
    def __init__(self, spark, path):
        from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

        self.t = DeltaLogTable(spark, path)

    def append_df(self, df):
        self.t.write(df, mode="append")

    def delete_pred(self, pred):
        self.t.delete(pred)  # deletion vectors

    def update_set(self, assigns, pred):
        self.t.update(assigns, pred)

    def merge_upsert(self, src):
        self.t.merge(src, ["k"])

    def neutral(self):
        # alternate the two content-neutral verbs so the storm also
        # exercises the metadata commit path (_commit_planned with a
        # metaData action) under genuine races, not just OPTIMIZE
        self._n = getattr(self, "_n", 0) + 1
        if self._n % 2:
            self.t.optimize(target_files=2)
        else:
            self.t.set_property("stress.tick", str(self._n))


class _IceOps:
    def __init__(self, spark, path, rng):
        from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

        self.t = IcebergTable(spark, path)
        self.rng = rng

    def _mode(self):
        return self.rng.choice(["mor", "cow"])

    def append_df(self, df):
        self.t.append(df.coalesce(1), retries=25)

    def delete_pred(self, pred):
        self.t.delete(pred, mode=self._mode(), retries=25)

    def update_set(self, assigns, pred):
        self.t.update(assigns, pred, mode=self._mode(), retries=25)

    def merge_upsert(self, src):
        self.t.merge(src, ["k"], mode=self._mode(), retries=25)

    def neutral(self):
        self.t.compact(target_files=2)


def _read_kv(df) -> dict[int, int]:
    return {r["k"]: r["v"] for r in df.select("k", "v").collect()}


# ------------------------------------------------------------- schedules


def _run_lake_schedule(spark, root: str, seed: int) -> None:
    from ent_fins_lakehouse_spark.sources.lakehouse import LakeTable

    path = os.path.join(root, f"lake{seed}")
    t = LakeTable(spark, path)
    t.write(spark.createDataFrame([(-1, -1)], "k INT, v INT"))
    # one handle PER WRITER (a handle's snapshot state is per-session,
    # like a real concurrent writer's): sharing one instance across
    # threads races its cached plan state, which is not a claimed contract
    want = _storm(
        spark,
        seed,
        lambda tid, rng, model: _ops_for(
            spark, _LakeOps(spark, path), tid, rng, model
        ),
    )
    want[-1] = -1
    assert _read_kv(t.read()) == want, f"lost update (seed={seed})"
    versions = [c.version for c in t._read_commits()]
    assert versions == list(range(len(versions))), "versions must be dense"


def _run_delta_schedule(spark, root: str, seed: int) -> None:
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    path = os.path.join(root, f"delta{seed}")
    t = DeltaLogTable(spark, path)
    t.write(spark.createDataFrame([(-1, -1)], "k INT, v INT"), mode="overwrite")
    t.set_property("delta.enableChangeDataFeed", "true")
    t.enable_row_tracking()
    cdf_from = t.latest_version() + 1
    want = _storm(
        spark,
        seed,
        lambda tid, rng, model: _ops_for(
            spark, _DeltaOps(spark, path), tid, rng, model
        ),
    )
    want[-1] = -1
    _verify_delta_invariants(t, want, cdf_from, seed)


def _verify_delta_invariants(t, want: dict[int, int], cdf_from: int, seed) -> None:
    """The full post-storm invariant battery for the public Delta log —
    shared by the thread-level schedules and the cross-process storm."""
    assert _read_kv(t.read()) == want, f"lost update (seed={seed})"
    final = t.latest_version()
    versions = sorted(t._json_versions())
    assert versions == list(range(final + 1)), "versions must be dense"
    t.validate_checksum()  # raises on drift
    # CDF net-replay from the storm's start reproduces the delta vs the
    # pre-storm seed state: within a commit, removes apply before adds
    # (a rewrite touches the same keys in both directions)
    changes = t.read_changes(cdf_from).select(
        "k", "v", "_change_type", "_commit_version"
    ).collect()
    state: dict[int, int] = {-1: -1}
    for v in range(cdf_from, final + 1):
        batch = [r for r in changes if r["_commit_version"] == v]
        for r in batch:
            if r["_change_type"] in ("delete", "update_preimage"):
                state.pop(r["k"], None)
        for r in batch:
            if r["_change_type"] in ("insert", "update_postimage"):
                state[r["k"]] = r["v"]
    assert state == want, f"CDF net-replay diverged (seed={seed})"
    # row tracking: every surviving row keeps a unique durable id
    ids = [r["_row_id"] for r in t.read_with_row_ids().select("_row_id").collect()]
    assert len(ids) == len(set(ids)), "row ids must stay unique"


def _run_iceberg_schedule(spark, root: str, seed: int) -> None:
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    path = os.path.join(root, f"ice{seed}")
    t = IcebergTable(spark, path)
    t.append(spark.createDataFrame([(-1, -1)], "k INT, v INT").coalesce(1))
    want = _storm(
        spark,
        seed,
        lambda tid, rng, model: _ops_for(
            spark, _IceOps(spark, path, random.Random(seed * 7 + tid)), tid, rng, model
        ),
    )
    want[-1] = -1
    _verify_iceberg_invariants(t, path, want, seed)


def _verify_iceberg_invariants(t, path: str, want: dict[int, int], seed) -> None:
    """Post-storm invariants for the Iceberg v2 layer — shared by the
    thread-level schedules and the cross-process storm."""
    assert _read_kv(t.read()) == want, f"lost update (seed={seed})"
    snaps = t.snapshots()
    ids = [s["snapshot-id"] for s in snaps]
    assert len(ids) == len(set(ids)), "snapshot ids must be unique"
    # complete linear metadata chain: v1..vN all present
    metas = [
        f
        for f in os.listdir(os.path.join(path, "metadata"))
        if f.endswith(".metadata.json")
    ]
    ns = sorted(int(f[1 : -len(".metadata.json")]) for f in metas)
    assert ns == list(range(1, len(ns) + 1)), "metadata chain must be linear"


def _sweep(run_one, spark, tmp_path, n_schedules: int, base_seed: int) -> None:
    root = str(tmp_path)
    failures: list[tuple[int, Exception]] = []

    def one(seed: int) -> None:
        try:
            run_one(spark, root, seed)
        except Exception as e:
            failures.append((seed, e))

    # schedules are independent tables; 4-way overlap adds ambient
    # contention (more genuine lost races) while bounding wall time
    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(one, range(base_seed, base_seed + n_schedules)))
    assert not failures, failures[:3]


def test_lake_table_randomized_schedules(spark, tmp_path):
    """44 randomized schedules over the engine-native LakeTable log
    (WriteSerializable rebase + re-plan)."""
    _sweep(_run_lake_schedule, spark, tmp_path, 44, 1300)


def test_delta_public_log_randomized_schedules(spark, tmp_path):
    """30 randomized schedules over the public Delta log with CDF and
    row tracking on: checksum, CDF net-replay, and row-id uniqueness
    hold under every interleaving."""
    _sweep(_run_delta_schedule, spark, tmp_path, 30, 2300)


def test_iceberg_randomized_schedules(spark, tmp_path):
    """30 randomized schedules over the Iceberg v2 layer (staleness
    gate + append/row-level rebase, random MoR/CoW per op)."""
    _sweep(_run_iceberg_schedule, spark, tmp_path, 30, 3300)


# ---------------------------------------------------------- pinned bugs


def test_publish_exclusive_is_atomic_and_exclusive(tmp_path):
    """Pin for stress-found bug 1: the commit publish primitive must be
    put-if-absent WITH content — no window where the file exists empty,
    FileExistsError when a competitor won, no tmp residue either way."""
    from ent_fins_lakehouse_spark.sources.lakehouse import publish_exclusive

    target = str(tmp_path / "00000000000000000001.json")
    publish_exclusive(target, '{"ok": 1}')
    with open(target) as fh:
        assert fh.read() == '{"ok": 1}'
    with pytest.raises(FileExistsError):
        publish_exclusive(target, '{"loser": 1}')
    with open(target) as fh:
        assert fh.read() == '{"ok": 1}'  # winner's content untouched
    assert [f for f in os.listdir(tmp_path) if f.endswith(".tmp")] == []


def test_iceberg_stale_version_hint_recovers(spark, tmp_path):
    """Pin for stress-found bug 2: a stale version-hint.text (two racing
    writers' hint writes are unordered) must not hide the newest
    metadata — the reader probes upward, so reads see the race winner's
    snapshot and the next commit lands instead of wedging on an
    already-taken O_EXCL target."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    path = str(tmp_path / "t")
    t = IcebergTable(spark, path)
    t.append(spark.createDataFrame([(1, 1)], "k INT, v INT").coalesce(1))
    t.append(spark.createDataFrame([(2, 2)], "k INT, v INT").coalesce(1))
    hint = os.path.join(path, "metadata", "version-hint.text")
    with open(hint, "w") as fh:
        fh.write("1")  # stale: v2.metadata.json is the truth
    t2 = IcebergTable(spark, path)
    assert t2._metadata_file().endswith("v2.metadata.json")
    assert {r["k"] for r in t2.read().collect()} == {1, 2}
    t2.append(spark.createDataFrame([(3, 3)], "k INT, v INT").coalesce(1))
    assert {r["k"] for r in t2.read().collect()} == {1, 2, 3}


def test_iceberg_planned_append_stamps_commit_time(spark, tmp_path):
    """An append planned before another writer's commit and committed
    after it (q346's concurrent staging) carries a snapshot timestamp
    no earlier than the winner's: the commit time is stamped per
    attempt, not at planning."""
    import time

    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    path = str(tmp_path / "t")
    row = "k INT, v INT"
    IcebergTable(spark, path).append(spark.createDataFrame([(1, 1)], row).coalesce(1))
    late = IcebergTable(spark, path)
    staged = late._plan_append(spark.createDataFrame([(2, 2)], row).coalesce(1))
    time.sleep(0.05)
    IcebergTable(spark, path).append(spark.createDataFrame([(3, 3)], row).coalesce(1))
    late._commit_planned_append(staged, retries=1)
    meta = IcebergTable(spark, path).metadata()
    stamps = [s["timestamp-ms"] for s in meta["snapshots"]]
    assert stamps == sorted(stamps), stamps
    log = [e["timestamp-ms"] for e in meta["snapshot-log"]]
    assert log == sorted(log) and meta["last-updated-ms"] == log[-1], meta


def test_iceberg_lost_commit_attempts_leave_no_metadata_debris(spark, tmp_path, monkeypatch):
    """A commit attempt that loses, to the staleness gate or to the
    O_EXCL publish, removes the manifest and manifest list it wrote:
    after one loss of each kind every ``.avro`` file in ``metadata/`` is
    reachable from a snapshot."""
    from ent_fins_lakehouse_spark.sources import iceberg
    from ent_fins_lakehouse_spark.sources.avro_io import read_ocf
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable

    path = str(tmp_path / "t")
    row = "k INT, v INT"
    IcebergTable(spark, path).append(spark.createDataFrame([(1, 1)], row).coalesce(1))
    late = IcebergTable(spark, path)
    staged = late._plan_append(spark.createDataFrame([(2, 2)], row).coalesce(1))
    IcebergTable(spark, path).append(spark.createDataFrame([(3, 3)], row).coalesce(1))
    # the first attempt loses to the staleness gate; the second loses
    # the publish race once; the third commits
    publish = iceberg.publish_exclusive
    lost = []

    def lose_once(target, payload):
        if not lost:
            lost.append(target)
            raise FileExistsError(target)
        publish(target, payload)

    monkeypatch.setattr(iceberg, "publish_exclusive", lose_once)
    late._commit_planned_append(staged, retries=2)
    monkeypatch.undo()
    assert lost
    t = IcebergTable(spark, path)
    reachable = set()
    for snap in t.metadata()["snapshots"]:
        reachable.add(os.path.basename(snap["manifest-list"]))
        _, manifests = read_ocf(t._resolve(snap["manifest-list"]))
        reachable |= {os.path.basename(m["manifest_path"]) for m in manifests}
    on_disk = {f for f in os.listdir(os.path.join(path, "metadata")) if f.endswith(".avro")}
    assert on_disk == reachable
    assert {r["k"] for r in t.read().collect()} == {1, 2, 3}


def test_crashed_publish_tmp_residue_reclaimed(spark, tmp_path):
    """A writer killed between publish_exclusive's tmp write and the
    hardlink leaves `.…​.tmp` staging residue beside the log/metadata —
    never referenced (the link IS the commit). Both formats' orphan
    reclamation sweeps it past the retention horizon, and never touches
    a YOUNG tmp (it may belong to an in-flight commit)."""
    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    # Delta: vacuum reclaims old log-dir tmp residue
    dt = DeltaLogTable(spark, str(tmp_path / "d"))
    dt.write(spark.createDataFrame([(1, 1)], "k INT, v INT"), mode="append")
    stale = os.path.join(dt.log_path, ".00000000000000000009.json.dead.tmp")
    young = os.path.join(dt.log_path, ".00000000000000000010.json.live.tmp")
    for p in (stale, young):
        with open(p, "w") as fh:
            fh.write("{}")
    os.utime(stale, (time.time() - 9 * 24 * 3600,) * 2)
    dt.vacuum(retention_hours=168.0)
    assert not os.path.exists(stale), "stale publish residue must be vacuumed"
    assert os.path.exists(young), "in-flight tmp must survive"
    assert dt.read().count() == 1
    os.remove(young)

    # Iceberg: remove_orphan_files reclaims old metadata tmp residue
    it = IcebergTable(spark, str(tmp_path / "i"))
    it.append(spark.createDataFrame([(1, 1)], "k INT, v INT").coalesce(1))
    istale = os.path.join(it.meta_dir, ".v9.metadata.json.dead.tmp")
    iyoung = os.path.join(it.meta_dir, ".v10.metadata.json.live.tmp")
    for p in (istale, iyoung):
        with open(p, "w") as fh:
            fh.write("{}")
    os.utime(istale, (time.time() - 9 * 24 * 3600,) * 2)
    res = it.remove_orphan_files(older_than_hours=72.0)
    assert not os.path.exists(istale), res
    assert os.path.exists(iyoung)
    assert it.read().count() == 1


def _pub_worker(path: str, wid: int, n: int, q) -> None:
    import json as _json
    import random as _random
    import time as _time

    from ent_fins_lakehouse_spark.sources.lakehouse import publish_exclusive

    rng = _random.Random(wid)
    wins = []
    for i in range(n):
        while True:
            vers = [
                int(f[:-5])
                for f in os.listdir(path)
                if f.endswith(".json") and f[:-5].isdigit()
            ]
            v = max(vers, default=-1) + 1
            try:
                publish_exclusive(
                    os.path.join(path, f"{v:020d}.json"),
                    _json.dumps({"w": wid, "i": i, "pad": "x" * 4096}),
                )
                wins.append(v)
                break
            except FileExistsError:
                _time.sleep(rng.uniform(0, 0.002))
    q.put(("w", wid, wins))


def _pub_reader(path: str, stop_flag: str, q) -> None:
    """Continuously replay everything visible — the torn-read detector:
    any file a reader can list must parse as COMPLETE json."""
    import json as _json

    bad = []
    scans = 0
    while not os.path.exists(stop_flag):
        for f in sorted(os.listdir(path)):
            if not (f.endswith(".json") and f[:-5].isdigit()):
                continue
            try:
                with open(os.path.join(path, f), encoding="utf-8") as fh:
                    d = _json.load(fh)
                if d.get("pad") != "x" * 4096:
                    bad.append((f, "short payload"))
            except ValueError as e:
                bad.append((f, str(e)))
        scans += 1
    q.put(("r", scans, bad))


def test_publish_exclusive_cross_process_storm(tmp_path):
    """TRUE cross-process race on the commit primitive (threads share a
    Python runtime; separate processes are the deployment shape): 8
    writer processes contend for 200 dense versions via
    publish_exclusive while a reader process replays the log
    continuously. Asserts: versions dense, every writer's every payload
    committed exactly once and byte-complete, the reader NEVER observed
    a torn/empty commit, and no staging residue survives."""
    import json
    import multiprocessing as mp

    path = str(tmp_path / "log")
    os.makedirs(path)
    stop_flag = str(tmp_path / "stop")
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    reader = ctx.Process(target=_pub_reader, args=(path, stop_flag, q))
    reader.start()
    writers = [
        ctx.Process(target=_pub_worker, args=(path, wid, 25, q))
        for wid in range(8)
    ]
    for p in writers:
        p.start()
    for p in writers:
        p.join(120)
        assert p.exitcode == 0
    with open(stop_flag, "w") as fh:
        fh.write("done")
    reader.join(60)
    assert reader.exitcode == 0
    results = [q.get(timeout=10) for _ in range(9)]
    wins: dict[int, list[int]] = {}
    scans, bad = 0, []
    for r in results:
        if r[0] == "w":
            wins[r[1]] = r[2]
        else:
            scans, bad = r[1], r[2]
    assert bad == [], f"reader saw torn commits: {bad[:3]}"
    assert scans > 0
    all_vers = sorted(v for ws in wins.values() for v in ws)
    assert all_vers == list(range(200)), "versions must be dense, no double-grant"
    # every (writer, seq) payload landed exactly once, byte-complete
    seen = set()
    for f in os.listdir(path):
        if f.endswith(".json"):
            with open(os.path.join(path, f)) as fh:
                d = json.load(fh)
            seen.add((d["w"], d["i"]))
    assert seen == {(w, i) for w in range(8) for i in range(25)}
    assert [f for f in os.listdir(path) if f.endswith(".tmp")] == []


def test_merge_plan_basis_sees_interleaved_nonblind_winner(spark, tmp_path, monkeypatch):
    """Pin for the r13 advisory find: merge() stamped ``_planned_at``
    from a SECOND ``_snapshot()`` taken AFTER ``_read_with_fp()``'s
    planning snapshot, so a non-blind commit landing between the two
    reads fell outside ``_check_planned_winners``' (base, latest]
    window and was silently built over — the rewrite resurrected the
    competitor's deleted rows. The basis must be the version the PLAN
    read: a DELETE injected right after ``_read_with_fp`` returns must
    surface as ConcurrentWriteError, never a lost update."""
    from ent_fins_lakehouse_spark.sources.lakehouse import (
        ConcurrentWriteError,
        DeltaLogTable,
    )

    td = str(tmp_path / "t")
    t = DeltaLogTable(spark, td)
    t.write(
        spark.range(0, 10).selectExpr("id AS k", "CAST(id AS STRING) AS v").coalesce(1),
        mode="append",
    )

    orig = t._read_with_fp

    def read_then_lose_race():
        res = orig()
        # competitor lands a NON-BLIND commit (remove+add) in the gap
        # between the plan snapshot and merge's metadata read
        DeltaLogTable(spark, td).delete("k = 5")
        return res

    monkeypatch.setattr(t, "_read_with_fp", read_then_lose_race)
    src = spark.createDataFrame([(5, "merged")], "k BIGINT, v STRING")
    with pytest.raises(ConcurrentWriteError):
        t.merge(src, on=["k"])
    # the interleaved DELETE survives; re-planning merges cleanly
    t2 = DeltaLogTable(spark, td)
    assert t2.read().filter("k = 5").count() == 0
    t2.merge(src, on=["k"])
    assert [r["v"] for r in t2.read().filter("k = 5").collect()] == ["merged"]


def test_cross_process_dml_storm(spark, tmp_path):
    """Full-DML storm across OS PROCESSES (VERDICT r13 item 3): the
    thread storms above share one JVM and one Python runtime, which
    serializes interleavings real deployments hit — N independent jobs
    on N drivers committing MERGE/DELETE/UPDATE/OPTIMIZE at one shared
    lakehouse path. Here 3 workers, each a separate python process with
    its OWN SparkSession, drive the same randomized op vocabulary over
    20 schedules (10 Delta + 10 Iceberg), file-barrier-aligned at each
    schedule start so contention is real. Invariants per schedule are
    the full battery: no lost update vs the union of per-writer models,
    dense versions / linear metadata chain, checksum validation, CDF
    net-replay, row-id uniqueness."""
    import json
    import subprocess
    import sys as _sys

    from ent_fins_lakehouse_spark.sources.iceberg import IcebergTable
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable

    n_workers, n_schedules = 3, 20
    sync_dir = str(tmp_path / "sync")
    out_dir = str(tmp_path / "out")
    os.makedirs(sync_dir)
    os.makedirs(out_dir)

    schedules, cdf_from = [], {}
    seed_rows = [(-1, -1)]
    for sid in range(n_schedules):
        kind = "delta" if sid % 2 == 0 else "iceberg"
        path = str(tmp_path / f"{kind}{sid}")
        if kind == "delta":
            t = DeltaLogTable(spark, path)
            t.write(
                spark.createDataFrame(seed_rows, "k INT, v INT"), mode="overwrite"
            )
            t.set_property("delta.enableChangeDataFeed", "true")
            t.enable_row_tracking()
            cdf_from[sid] = t.latest_version() + 1
        else:
            t = IcebergTable(spark, path)
            t.append(spark.createDataFrame(seed_rows, "k INT, v INT").coalesce(1))
        schedules.append(
            {"id": sid, "kind": kind, "path": path, "seed": 7100 + sid}
        )
    sched_file = str(tmp_path / "schedules.json")
    with open(sched_file, "w") as fh:
        json.dump(schedules, fh)

    worker = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_storm_worker.py")
    logs, procs = [], []
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    for wid in range(n_workers):
        log = open(str(tmp_path / f"worker{wid}.log"), "w")
        logs.append(log)
        procs.append(
            subprocess.Popen(
                [
                    _sys.executable,
                    worker,
                    sched_file,
                    str(wid),
                    str(n_workers),
                    sync_dir,
                    out_dir,
                ],
                stdout=log,
                stderr=subprocess.STDOUT,
                env=env,
            )
        )
    try:
        for wid, p in enumerate(procs):
            rc = p.wait(timeout=1500)
            tail = open(str(tmp_path / f"worker{wid}.log")).read()[-3000:]
            assert rc == 0, f"worker {wid} rc={rc}:\n{tail}"
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
        for log in logs:
            log.close()

    for sched in schedules:
        sid, kind, path = sched["id"], sched["kind"], sched["path"]
        want: dict[int, int] = {-1: -1}
        for wid in range(n_workers):
            with open(os.path.join(out_dir, f"model_s{sid}_w{wid}.json")) as fh:
                want.update({int(k): v for k, v in json.load(fh).items()})
        if kind == "delta":
            _verify_delta_invariants(
                DeltaLogTable(spark, path), want, cdf_from[sid], sched["seed"]
            )
        else:
            _verify_iceberg_invariants(
                IcebergTable(spark, path), path, want, sched["seed"]
            )
