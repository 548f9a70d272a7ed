"""Bucket index — Hudi's ``hoodie.index.type=BUCKET`` (simple bucket
engine): record keys hash to a FIXED number of buckets, each bucket is
exactly one file group per partition, and upsert tagging becomes a pure
map-side hash — no record-index read, no bloom probe, no tag join
against table state. The scale point: tagging cost is O(incoming rows)
regardless of table size, and the only shuffle is the existing
route-by-file-group exchange.

Mechanics (mirrors Hudi's Flink/Spark bucket writers):

- bucket(key) = ``pmod(xxhash64(key), N)`` — computed JVM-side from the
  same key expression the writer uses; N is pinned at table creation
  (``hoodie.bucket.index.num.buckets``) and immutable (rescaling a
  bucket table requires a rewrite — Hudi's own constraint).
- file id encodes the bucket as its first 8 digits
  (``{bucket:08d}-0000-4000-8000-000000000000-0``), so routing needs
  only the fileId, exactly like Hudi's bucket-prefixed file groups.
- EVERY bucket-routed row (insert or update or tombstone) is a log
  append to its bucket's file group; the first touch creates the group
  LOG-ONLY (the readers' log-only-slice support makes it immediately
  queryable) and compaction folds it into a base. Bucket tables are
  therefore written through ``write.upsert`` — the raw batch writer
  rejects untagged inserts to them (it cannot guarantee the
  one-group-per-bucket invariant across tasks).

The bucket services that rewrite data — ``convert_to_bucket``,
``split_buckets`` and ``merge_buckets`` — differ only in which file
group each row goes to: they share ``_rewrite_groups``, one
``groupBy(partition, file id).applyInArrow`` whose tasks write each
group's base file through the shared base-file finisher
(``worklist.finish_base_file``: the file, its column stats, its bloom
blob and the moved keys' record-index relocation), then one published
replacecommit.

At 100 TB: size N so a bucket's slice stays near the base-file target
(Hudi guidance); too few buckets = giant groups, too many = small
files. The bucket count is a per-table knob, not auto-tuned here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

BUCKET_FID_SUFFIX = "-0000-4000-8000-000000000000-0"
LEAF_FID_TAIL = "-4000-8000-000000000000-0"
NUM_BUCKETS_PROP = "hoodie.bucket.index.num.buckets"
INDEX_TYPE_PROP = "hoodie.index.type"
# extendible-hash split map (write/bucket.py::split_bucket): leaf
# markers "b/m" comma-separated — bucket b AT MODULUS m was split into
# children (b, 2m) and (b+m, 2m). Routing starts at (pmod(h,N), N) and
# descends while the current leaf is marked split — Hudi's
# CONSISTENT_HASHING bucket engine solves the same rescale problem with
# a hash-ring metadata file; this trie encoding keeps routing a pure
# JVM-side expression.
SPLITS_PROP = "hoodie.bucket.index.splits"
MAX_MODULUS = 9999  # leaf modulus rides in a 4-digit file-id segment
_FID_COL = "__hoodie_fid_x"  # target file group of a row being rewritten


def is_bucket_table(props: dict) -> bool:
    return str(props.get(INDEX_TYPE_PROP, "")).upper() == "BUCKET"


def num_buckets(props: dict) -> int:
    return int(props.get(NUM_BUCKETS_PROP, "0"))


def parse_splits(props: dict) -> frozenset[tuple[int, int]]:
    """The table's split set {(bucket, modulus), ...} from properties."""
    raw = str(props.get(SPLITS_PROP, "") or "").strip()
    if not raw:
        return frozenset()
    out = set()
    for tok in raw.split(","):
        b, _, m = tok.strip().partition("/")
        out.add((int(b), int(m)))
    return frozenset(out)


def splits_str(splits) -> str:
    return ",".join(f"{b}/{m}" for b, m in sorted(splits))


def _split_depth(n: int, splits) -> int:
    """Max number of routing descents: how many doublings past N the
    deepest split chain reaches."""
    depth = 0
    for _b, m in splits:
        d = 1
        while m > n:
            m //= 2
            d += 1
        depth = max(depth, d)
    return depth


def bucket_file_id(bucket: int) -> str:
    return f"{bucket:08d}{BUCKET_FID_SUFFIX}"


def leaf_file_id(bucket: int, modulus: int, n: int) -> str:
    """File id of leaf (bucket, modulus): base-modulus leaves keep the
    legacy '0000' segment (pre-split tables stay byte-identical), split
    children encode their modulus in it."""
    seg = "0000" if modulus == n else f"{modulus:04d}"
    return f"{bucket:08d}-{seg}{LEAF_FID_TAIL}"


def parse_bucket(file_id: str) -> int | None:
    """Bucket number from a bucket-prefixed file id (None when the file
    group is not bucket-named)."""
    head = file_id[:8]
    if len(head) == 8 and head.isdigit():
        return int(head)
    return None


def parse_bucket_leaf(file_id: str, n: int) -> tuple[int, int] | None:
    """(bucket, modulus) of a bucket-named file group; the legacy
    '0000' segment means modulus == the table's base N."""
    b = parse_bucket(file_id)
    if b is None or len(file_id) < 13:
        return None
    seg = file_id[9:13]
    if not seg.isdigit():
        return None
    m = n if seg == "0000" else int(seg)
    return (b, m)


def bucket_expr(key_expr: Column, n: int) -> Column:
    """The BASE bucket of each row, JVM-side: ``pmod(xxhash64(key), N)``."""
    return F.pmod(F.xxhash64(key_expr.cast("string")), F.lit(n)).cast("int")


def bucket_route_exprs(
    key_expr: Column, n: int, splits=frozenset()
) -> tuple[Column, Column]:
    """(bucket, modulus) leaf columns honoring the split map — still a
    pure map-side expression: O(|splits| * depth) WHENs folded by
    Catalyst, no join, no index read. An empty split map degenerates to
    (pmod(h, N), N)."""
    h = F.xxhash64(key_expr.cast("string"))
    b = F.pmod(h, F.lit(n)).cast("int")
    m = F.lit(n).cast("int")
    for _ in range(_split_depth(n, splits)):
        cond = None
        for sb, sm in sorted(splits):
            c = (b == F.lit(sb)) & (m == F.lit(sm))
            cond = c if cond is None else (cond | c)
        nm = (m * 2).cast("int")
        nb = F.pmod(h, nm).cast("int")
        b = F.when(cond, nb).otherwise(b)
        m = F.when(cond, nm).otherwise(m)
    return b, m


def route_key(key: str, n: int, splits=frozenset()) -> tuple[int, int]:
    """Driver-side twin of ``bucket_route_exprs`` for ONE key — pure
    Python (functions/xxhash.py is bit-identical to Spark's xxhash64),
    so planners can prune to a key's bucket group without a Spark job."""
    from hudi_rs_spark.functions.xxhash import spark_xxhash64_string

    h = spark_xxhash64_string(str(key))
    m = n
    b = h % m
    while (b, m) in splits:
        m *= 2
        b = h % m
    return b, m


def bucket_file_id_expr(bucket_col: Column) -> Column:
    return F.concat(
        F.lpad(bucket_col.cast("string"), 8, "0"), F.lit(BUCKET_FID_SUFFIX)
    )


def leaf_file_id_expr(bucket_col: Column, modulus_col: Column, n: int) -> Column:
    return F.concat(
        F.lpad(bucket_col.cast("string"), 8, "0"),
        F.lit("-"),
        F.when(modulus_col == F.lit(n), F.lit("0000")).otherwise(
            F.lpad(modulus_col.cast("string"), 4, "0")
        ),
        F.lit(LEAF_FID_TAIL),
    )


def _rewrite_groups(snap, fid_col: Column, cfg, table, replaced) -> None:
    """Rewrite ``snap``'s rows into one new base file per (partition,
    ``fid_col``) group — each through ``worklist.finish_base_file`` with
    the table's side records — and publish them as ``cfg``'s claimed
    replacecommit over the ``replaced`` groups, OCC-checked against
    ``table``'s timeline. The claim is released when anything fails."""
    import json

    import pyarrow as pa

    from hudi_rs_spark.write.concurrency import publish, release_instant
    from hudi_rs_spark.write.worklist import side_records

    path, instant = cfg.path, cfg.instant
    side = side_records(path, table.config)
    options = table.storage_options

    def write_group(key, rows):
        from hudi_rs_spark.write.worklist import finish_base_file, task_token

        stat = finish_base_file(
            rows.drop_columns([_FID_COL]), path, key[0].as_py() or "",
            key[1].as_py(), instant, task_token(), side,
            storage_options=options,
        )
        return pa.table({"stat": [json.dumps(stat)]})

    try:
        out = (
            snap.withColumn(_FID_COL, fid_col)
            .groupBy("_hoodie_partition_path", _FID_COL)
            .applyInArrow(write_group, "stat string")
            .collect()
        )
        publish(
            cfg, [json.loads(r.stat) for r in out], table.schema_json(),
            read_point=frozenset(i.timestamp for i in table.timeline.instants),
            touched={(p, fid) for p, fids in replaced.items() for fid in fids},
            replaced=replaced, action="replacecommit",
        )
    except Exception:
        release_instant(cfg, "replacecommit")
        raise


def convert_to_bucket(
    spark, path: str, num_buckets: int, instant: str | None = None
) -> int:
    """Adopt the bucket index on an EXISTING table: one distributed
    rewrite regroups the current snapshot into bucket-named file groups
    (one base per (partition, bucket)) and publishes a single
    ``replacecommit`` excluding every prior group; table properties then
    pin ``hoodie.index.type=BUCKET`` so all later writes hash-route.

    Spark-first shape: full-snapshot read (the same merged read every
    query uses) → ONE shuffle on (partition, bucket) → one task per
    group writes its base file and returns a stat dict — the only
    all-data pass a bucket conversion fundamentally requires. OCC
    protects the swap: a commit landing after the snapshot read
    conflicts instead of being silently dropped.

    Returns the number of file groups replaced."""
    from hudi_rs_spark.config.table_config import update_properties
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.concurrency import claim_instant, release_instant
    from hudi_rs_spark.write.config import new_instant, service_config

    table = HudiTable(path, spark)
    tc = table.config
    if is_bucket_table(tc.props):
        raise ValueError(f"{path} is already bucket-indexed")
    if tc.table_type.value != "MERGE_ON_READ":
        raise ValueError(
            "bucket conversion requires a MERGE_ON_READ table (all "
            "post-conversion writes are bucket-routed log appends)"
        )
    if num_buckets < 1:
        raise ValueError("num_buckets must be >= 1")
    replaced: dict[str, list[str]] = {}
    for sl in table.get_file_slices():
        replaced.setdefault(sl.partition_path or "", []).append(sl.file_id)
    if not replaced:
        raise ValueError("nothing to convert: the table has no file groups")
    for k in replaced:
        replaced[k] = sorted(set(replaced[k]))
    cfg = service_config(
        tc, path, instant or new_instant(), "cluster", instant is not None
    )
    claim_instant(cfg, "replacecommit")
    _rewrite_groups(
        table.read(),
        bucket_file_id_expr(
            bucket_expr(F.col("_hoodie_record_key"), num_buckets)
        ),
        cfg, table, replaced,
    )

    def pin_bucket(have: dict) -> dict:
        have[INDEX_TYPE_PROP] = "BUCKET"
        have[NUM_BUCKETS_PROP] = str(num_buckets)
        return have

    update_properties(path, pin_bucket, table.storage_options)
    release_instant(cfg, "replacecommit")
    return sum(len(v) for v in replaced.values())


def split_bucket(
    spark, path: str, bucket: int, modulus: int | None = None,
    instant: str | None = None,
) -> int:
    """Rescale one bucket: rewrite leaf ``(bucket, modulus)``'s file
    group (in every partition where it exists) into two child groups
    ``(bucket, 2*modulus)`` and ``(bucket+modulus, 2*modulus)`` via ONE
    replacecommit, then record the split in table properties so routing
    (write/upsert.py, point lookups) descends to the children — the
    operational cure for a bucket that outgrew its target file size
    without convert_to_bucket's full-table rewrite. Hudi's
    CONSISTENT_HASHING bucket engine splits/merges buckets through
    clustering over a hash-ring metadata file
    (hudi: HoodieConsistentHashingMetadata under
    .hoodie/.bucket_index/consistent_hashing_metadata); this extendible-
    hash trie in ``hoodie.bucket.index.splits`` is the same incremental
    rescale expressed so routing stays one JVM-side expression.

    ``modulus`` defaults to the CURRENT leaf modulus of ``bucket`` (the
    base N when never split). Partitions that never materialized the
    parent group simply seed the children lazily on their first write.
    Bytes touched = the split bucket's data only; one shuffle on
    (partition, child). Returns the number of file groups replaced.

    Crash recovery: a crash between the replacecommit and the props
    update leaves the trie lagging — the validator's bucket check flags
    it ("split map never created"), and RE-RUNNING the same call heals
    it (the parent is already replaced, so the rerun degenerates to the
    metadata-only path and just pins the trie). Pinned by
    tests/test_bucket_index.py::TestRescaleCrashRecovery.
    """
    return split_buckets(spark, path, [(bucket, modulus)], instant=instant)


def split_buckets(
    spark, path: str, leaves, instant: str | None = None,
) -> int:
    """Split SEVERAL bucket leaves in ONE replacecommit (r14, guide §6
    commit batching): one snapshot read over every parent slice, one
    (partition, child-leaf) shuffle, one commit + one MDT fold —
    instead of a full claim/read/shuffle/commit/MDT round PER leaf, the
    sequential shape ``rescale_oversized_buckets`` had before. Routing
    for the rewrite is the child trie itself (``bucket_route_exprs``
    under the post-split map), so every row lands in its child group in
    one pass regardless of which parent it came from.

    ``leaves``: iterable of (bucket, modulus) — modulus None means the
    bucket's CURRENT leaf modulus. Validation and crash recovery match
    ``split_bucket`` per leaf (parents already replaced degrade to the
    metadata-only trie pin). Returns the number of file groups replaced.
    """
    from hudi_rs_spark.config.read_config import HudiReadOptions
    from hudi_rs_spark.config.table_config import update_properties
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.concurrency import claim_instant, release_instant
    from hudi_rs_spark.write.config import new_instant, service_config

    table = HudiTable(path, spark)
    tc = table.config
    if not is_bucket_table(tc.props):
        raise ValueError(f"{path} is not bucket-indexed")
    n = num_buckets(tc.props)
    splits = parse_splits(tc.props)

    norm_leaves: list[tuple[int, int]] = []
    for bucket, modulus in leaves:
        if modulus is None:
            # descend to the current leaf holding this bucket id
            modulus = n
            while (bucket % modulus, modulus) in splits:
                modulus *= 2
            if bucket % modulus != bucket:
                raise ValueError(
                    f"bucket {bucket} is not a leaf id (its id exceeds "
                    f"its leaf modulus {modulus})"
                )
        if (bucket, modulus) in splits:
            raise ValueError(f"bucket ({bucket}, {modulus}) is already split")
        if bucket >= modulus:
            raise ValueError(f"bucket {bucket} must be < modulus {modulus}")
        if modulus != n:
            # the leaf must exist: its parent chain must be fully split
            if (bucket % (modulus // 2), modulus // 2) not in splits:
                raise ValueError(
                    f"({bucket}, {modulus}) is not a current leaf of the "
                    "split trie"
                )
        if 2 * modulus > MAX_MODULUS:
            raise ValueError(
                f"child modulus {2 * modulus} exceeds the file-id encoding "
                f"bound {MAX_MODULUS}"
            )
        if (bucket, modulus) in norm_leaves:
            raise ValueError(f"duplicate leaf ({bucket}, {modulus})")
        norm_leaves.append((bucket, modulus))
    if not norm_leaves:
        return 0

    parent_fids = {leaf_file_id(b, m, n) for b, m in norm_leaves}
    parent_slices = [
        s for s in table.get_file_slices() if s.file_id in parent_fids
    ]
    replaced: dict[str, list[str]] = {}
    for s in parent_slices:
        replaced.setdefault(s.partition_path or "", []).append(s.file_id)

    cfg = service_config(
        tc, path, instant or new_instant(), "cluster", instant is not None
    )
    new_splits = splits | set(norm_leaves)

    def pin_split(have: dict) -> dict:
        have[SPLITS_PROP] = splits_str(new_splits)
        return have

    if not parent_slices:
        # no partition materialized any parent: metadata-only splits
        update_properties(path, pin_split, table.storage_options)
        write_hashing_metadata(path, cfg.instant, n, new_splits, [""])
        return 0

    claim_instant(cfg, "replacecommit")
    # child assignment via the POST-split trie: each row read from a
    # split parent descends exactly one level to its child leaf, so one
    # expression routes every leaf's rows in the same pass
    b_col, m_col = bucket_route_exprs(F.col("_hoodie_record_key"), n, new_splits)
    _rewrite_groups(
        table._execute_slices(parent_slices, None, HudiReadOptions()),
        leaf_file_id_expr(b_col, m_col, n), cfg, table, replaced,
    )
    update_properties(path, pin_split, table.storage_options)
    write_hashing_metadata(
        path, cfg.instant, n, new_splits, sorted(replaced) or [""]
    )
    release_instant(cfg, "replacecommit")
    return sum(len(v) for v in replaced.values())


def merge_buckets(
    spark, path: str, bucket: int, modulus: int,
    instant: str | None = None,
) -> int:
    """Undo a split: merge leaf ``(bucket, 2*modulus)`` and its sibling
    ``(bucket+modulus, 2*modulus)`` back into parent ``(bucket,
    modulus)`` via ONE replacecommit over the affected groups — the
    shrink half of Hudi's CONSISTENT_HASHING engine (small sibling
    buckets after deletes/TTL cost per-file overhead forever unless
    re-merged). Requires ``(bucket, modulus)`` to be a split whose
    children are current leaves (not further split). Rows need no
    re-hashing: both children's keys route to the parent by
    construction, so the rewrite is a per-partition concat — no shuffle
    at all. Returns the number of file groups replaced.

    The recreated parent reuses its deterministic file id: visibility
    rests on the partition/instant-scoped replacement exclusion
    (timeline.replaced_file_groups_as_of — slices AFTER the split's
    replacecommit resurrect the group). Crash between replacecommit and
    props: validator flags ("live for SPLIT bucket"), re-run heals
    (metadata-only unpin) — TestRescaleCrashRecovery."""
    from hudi_rs_spark.config.read_config import HudiReadOptions
    from hudi_rs_spark.config.table_config import update_properties
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.concurrency import claim_instant, release_instant
    from hudi_rs_spark.write.config import new_instant, service_config

    table = HudiTable(path, spark)
    tc = table.config
    if not is_bucket_table(tc.props):
        raise ValueError(f"{path} is not bucket-indexed")
    n = num_buckets(tc.props)
    splits = parse_splits(tc.props)
    if (bucket, modulus) not in splits:
        raise ValueError(
            f"({bucket}, {modulus}) is not a split bucket — nothing to merge"
        )
    child_mod = 2 * modulus
    children = [(bucket, child_mod), (bucket + modulus, child_mod)]
    for c in children:
        if c in splits:
            raise ValueError(
                f"child {c} is itself split: merge it first (bottom-up)"
            )
    child_fids = {leaf_file_id(b, m, n) for b, m in children}
    parent_fid = leaf_file_id(bucket, modulus, n)
    child_slices = [
        s for s in table.get_file_slices() if s.file_id in child_fids
    ]
    replaced: dict[str, list[str]] = {}
    for s in child_slices:
        replaced.setdefault(s.partition_path or "", []).append(s.file_id)
    new_splits = splits - {(bucket, modulus)}
    cfg = service_config(
        tc, path, instant or new_instant(), "cluster", instant is not None
    )

    def unpin_split(have: dict) -> dict:
        have[SPLITS_PROP] = splits_str(new_splits)
        return have

    if not child_slices:
        update_properties(path, unpin_split, table.storage_options)
        write_hashing_metadata(path, cfg.instant, n, new_splits, [""])
        return 0

    claim_instant(cfg, "replacecommit")
    # both children's keys route to the parent by construction: one
    # group per partition, no re-hashing
    _rewrite_groups(
        table._execute_slices(child_slices, None, HudiReadOptions()),
        F.lit(parent_fid), cfg, table, replaced,
    )
    update_properties(path, unpin_split, table.storage_options)
    write_hashing_metadata(
        path, cfg.instant, n, new_splits, sorted(replaced) or [""]
    )
    release_instant(cfg, "replacecommit")
    return sum(len(v) for v in replaced.values())


# ---------------------------------------------------------------------------
# consistent-hashing metadata layout parity
# ---------------------------------------------------------------------------
def _leaves(n: int, splits) -> list[tuple[int, int]]:
    """Every live leaf of the split trie, (bucket, modulus) sorted."""
    out = []

    def descend(b: int, m: int):
        if (b, m) in splits:
            descend(b, 2 * m)
            descend(b + m, 2 * m)
        else:
            out.append((b, m))

    for b in range(n):
        descend(b, n)
    return sorted(out)


def hashing_meta_dir(path: str) -> str:
    return f"{path}/.hoodie/.bucket_index/consistent_hashing_metadata"


def write_hashing_metadata(
    path: str, instant: str, n: int, splits, partitions
) -> None:
    """Persist the split tree per partition in the ``.hoodie`` layout
    Hudi's CONSISTENT_HASHING bucket engine uses —
    ``.hoodie/.bucket_index/consistent_hashing_metadata/<partition>/
    <instant>.hashing_meta``, a JSON document per Hudi's
    HoodieConsistentHashingMetadata (which serializes to JSON, suffix
    ``HASHING_METADATA_FILE_SUFFIX = ".hashing_meta"``). One node per
    live LEAF with its file-id prefix, exactly how Hudi's engine maps
    nodes to file groups; the ``value`` field carries this repo's trie
    leaf tag ``bucket/modulus`` instead of a ring point (the trie is the
    routing structure here — noted in ``extraMetadata.routing`` so a
    reader never mistakes it for ring ranges). ``hoodie.properties``
    stays the routing source of truth; these files are the durable,
    per-partition, instant-versioned record an operator (or Hudi-side
    tooling) can inspect."""
    import json

    from hudi_rs_spark.write.writer import _base, _fs

    base = _base(path)
    st = _fs(base)
    doc = {
        "version": 1,
        "instant": instant,
        "numBuckets": n,
        "seqNo": len(splits),
        "nodes": [
            {
                "value": f"{b}/{m}",
                "fileIdPrefix": leaf_file_id(b, m, n)[: -len("-0")],
            }
            for b, m in _leaves(n, splits)
        ],
        "extraMetadata": {
            "routing": "extendible-hash-trie",
            "splits": splits_str(splits),
        },
    }
    payload = json.dumps(doc, indent=0).encode()
    for part in partitions:
        d = f"{hashing_meta_dir(base)}/{part}" if part else hashing_meta_dir(base)
        st.publish_bytes(f"{d}/{instant}.hashing_meta", payload)


def read_hashing_metadata(path: str, partition: str = "") -> dict | None:
    """Latest persisted hashing metadata for ``partition`` (None when
    the table never split)."""
    import json

    from hudi_rs_spark.write.writer import _base, _fs

    base = _base(path)
    st = _fs(base)
    d = (
        f"{hashing_meta_dir(base)}/{partition}"
        if partition
        else hashing_meta_dir(base)
    )
    if not st.isdir(d):
        return None
    names = sorted(
        e.name
        for e in st.list_dir(d)
        if not e.is_dir and e.name.endswith(".hashing_meta")
    )
    if not names:
        return None
    return json.loads(st.read_bytes(f"{d}/{names[-1]}"))


def rescale_oversized_buckets(
    spark,
    path: str,
    max_bucket_mb: float,
    max_splits: int | None = None,
) -> list[tuple[int, int]]:
    """Auto-rescale: split every bucket LEAF whose total live bytes
    (base + logs, summed across partitions) exceed ``max_bucket_mb`` —
    the policy loop on top of ``split_bucket`` that keeps a
    consistent-hashing table's buckets near their target size as it
    grows (Hudi's SparkConsistentBucketClusteringPlanStrategy split
    trigger). Each split halves one leaf; a leaf that is still too big
    splits again on a LATER invocation (incremental by design — one
    bounded rewrite per leaf per round). ``max_splits`` caps the round;
    the largest leaves go first so a bounded round buys the most.

    Returns the (bucket, modulus) leaves split this round. Decision
    input is the listing already in hand — zero extra I/O; bytes
    touched = the split buckets' data only."""
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.sources.hudi import HudiTable

    if max_bucket_mb <= 0:
        raise ValueError("max_bucket_mb must be positive")
    tc = HudiTableConfig.from_base_path(path)
    if not is_bucket_table(tc.props):
        raise ValueError(f"{path} is not a bucket-index table")
    n = num_buckets(tc.props)
    table = HudiTable(path, spark=None, listing="direct")
    totals: dict[tuple[int, int], int] = {}
    for sl in table.get_file_slices():
        leaf = parse_bucket_leaf(sl.file_id, n)
        if leaf is None:
            continue
        size = (
            sl.base_file.size if sl.base_file is not None else 0
        ) + sum(lf.size for lf in sl.log_files)
        totals[leaf] = totals.get(leaf, 0) + size
    limit = max_bucket_mb * 1024 * 1024
    oversized = sorted(
        (leaf for leaf, total in totals.items() if total > limit),
        key=lambda leaf: -totals[leaf],
    )
    if max_splits is not None:
        oversized = oversized[: max(0, int(max_splits))]
    if not oversized:
        return []
    # One BATCHED replacecommit for the whole round (r14, guide §6):
    # every oversized leaf is rewritten in one snapshot read + one
    # (partition, child) shuffle + one commit + one MDT fold, instead of
    # a full claim/read/shuffle/commit/MDT cycle per leaf. Leaves are
    # current by construction (computed from this listing), so the batch
    # satisfies split_buckets' validation; a leaf still too big after
    # halving splits again on a LATER invocation, as before.
    split_buckets(spark, path, oversized)
    return oversized


def rescale_undersized_buckets(
    spark,
    path: str,
    min_bucket_mb: float,
    max_merges: int | None = None,
) -> list[tuple[int, int]]:
    """The SHRINK half of auto-rescale: fold sibling leaf PAIRS whose
    combined live bytes sit under ``min_bucket_mb`` back into their
    parent via the existing ``merge_buckets`` — Hudi's consistent-
    hashing engine resizes both directions
    (SparkConsistentBucketClusteringPlanStrategy merge trigger). A
    table that shrinks after TTL/deletes otherwise accumulates tiny
    buckets whose per-file overhead (open/footer/seek per leaf) is paid
    on every scan forever.

    A parent ``(bucket, modulus)`` qualifies when both children are
    CURRENT leaves (neither split further — merges are bottom-up) and
    their combined bytes are below the floor, so the restored parent is
    itself at most floor-sized and cannot immediately re-split.
    Smallest pairs first — a bounded round (``max_merges``) removes the
    most per-file overhead per rewrite; deeper fold-ups happen on LATER
    invocations, incremental like the split loop. Each merge is one
    per-partition concat (children route to the parent by construction
    — no shuffle) published as one replacecommit with the same
    consistent-hashing metadata emission as splits.

    Returns the (bucket, modulus) parents restored this round."""
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.sources.hudi import HudiTable

    if min_bucket_mb <= 0:
        raise ValueError("min_bucket_mb must be positive")
    tc = HudiTableConfig.from_base_path(path)
    if not is_bucket_table(tc.props):
        raise ValueError(f"{path} is not a bucket-index table")
    n = num_buckets(tc.props)
    splits = parse_splits(tc.props)
    if not splits:
        return []
    table = HudiTable(path, spark=None, listing="direct")
    totals: dict[tuple[int, int], int] = {}
    for sl in table.get_file_slices():
        leaf = parse_bucket_leaf(sl.file_id, n)
        if leaf is None:
            continue
        size = (
            sl.base_file.size if sl.base_file is not None else 0
        ) + sum(lf.size for lf in sl.log_files)
        totals[leaf] = totals.get(leaf, 0) + size
    limit = min_bucket_mb * 1024 * 1024
    candidates: list[tuple[tuple[int, int], int]] = []
    for bucket, modulus in splits:
        children = ((bucket, 2 * modulus), (bucket + modulus, 2 * modulus))
        if any(c in splits for c in children):
            continue  # a child is itself split: fold bottom-up later
        combined = sum(totals.get(c, 0) for c in children)
        if combined < limit:
            candidates.append(((bucket, modulus), combined))
    candidates.sort(key=lambda kv: kv[1])
    if max_merges is not None:
        candidates = candidates[: max(0, int(max_merges))]
    done: list[tuple[int, int]] = []
    for (bucket, modulus), _combined in candidates:
        merge_buckets(spark, path, bucket, modulus)
        done.append((bucket, modulus))
    return done
