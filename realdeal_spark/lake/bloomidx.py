"""Per-file key Bloom sidecars: the point-lookup index.

A CDC-ingested table answers two read shapes: "scan the current
state" (``LakeTable.read``) and "what is the current row for THESE
keys" — the serving-path point lookup.  Bucket hashing already
narrows a lookup to one bucket, but at 100 TB a bucket still holds
many file generations (a MoR base plus every uncompacted delta, or a
long append history), and reading them all to find one url is the
wrong cost.  This module gives every data file a Bloom filter over
the table's key columns, so a lookup reads only the files that MAY
contain a requested key: no false negatives by construction, ~fpp of
the non-matching files read by accident.

Layout.  Each commit writes ONE sidecar parquet directory inside its
own delta dir (``_data/<delta>/_bloom``) holding the packed filter
words of every data file the commit produced::

    path string     -- manifest-relative data-file path
    m_bits bigint   -- filter size for that file (rows * bits/key)
    w bigint        -- word index (bit_position div 64)
    word bigint     -- packed 64 bits

Same packed-words bit layout as the MERGE winner pushdown, built
and probed through the same helpers (operators/bloom.py): the build
is one distributed job (read ONLY the key columns of the just-written
files — column-pruned parquet — explode each key into k=``BLOOM_K``
xxhash64 bit positions, bit_or into words), so the driver never
holds keys; the probe is a words-table join.  Because the sidecar lives inside the delta dir,
snapshot expiration garbage-collects it with the commit's data files
(referenced sidecars are pinned by the manifest ``bloom`` entry).

Filters hash key VALUES (xxhash64 over the key tuple), never column
names, so they stay valid across rename evolution; widen evolution of
a key column would change hash inputs and is rejected elsewhere.

Sizing: ``BLOOM_BITS_PER_KEY`` = 16, ``BLOOM_K`` = 4 → fpp ≈ 0.24%
per file.  A 1M-row file carries a ~250k-word (≈2 MB) sidecar — 0.2%
of the data it indexes; probing touches only the sidecars of the
looked-up keys' buckets.

When a merge probes.  ``LakeTable.lookup`` always probes.  The MoR
classification and the pre-image read probe only through
``probe_skip``, a two-sided gate decided on the driver from numbers
it already holds: the batch's keys per touched bucket must stay under
``BLOOM_PROBE_MAX_KEYS_PER_BUCKET`` (past it every file is
bloom-positive), and the touched buckets' manifest rows must reach
``BLOOM_PROBE_MIN_ROWS`` (under it the probe's ~six fixed Spark jobs
cost more than the narrow scan they prune).  Skipping is always
correct: the classification then scans every file of the touched
buckets.  The floor comes from a MoR ``merge_apply`` of a 1,000-key
batch (500 new keys, 500 updates of the newest generation's keys)
into 4 buckets × 8 MoR generations, probe forced on and off in
alternating order on a fresh copy of the table, 3 timed reps each
after a warm-up, ``local[2]`` on a 4-CPU host::

    rows in touched buckets   probe on       probe off      files pruned
    400k                      4.8-6.0 s      4.2-4.9 s      44%
    1M                        5.5-6.1 s      6.4-8.1 s      50%
    4M                        19.5-20.5 s    30.6-31.5 s    47%

Reference analogue: none (the reference's Fusion-Tables store has no
files to prune, fusion_tables_client.py:21-26); this is the Iceberg
puffin / Delta bloom-index shape rebuilt on the engine's own
manifests.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realdeal_spark.operators.bloom import (
    bit_positions,
    pack_words,
    word_bit,
    word_index,
)

BLOOM_K = 4
BLOOM_BITS_PER_KEY = 16

#: Probing is only worth it when whole files can still come back
#: negative.  ``bloom_candidate_paths`` pairs each key with the
#: covered files OF ITS OWN BUCKET only (the ``_b`` equi-join), so the
#: probe count a file faces is keys-per-touched-bucket, not the batch
#: total.  P(file with no true hits survives all n_b probes) =
#: (1-p)^n_b at per-probe fpp p ≈ 0.24% (k=4, 16 bits/key): n_b=256
#: still prunes ~54% of innocent files, n_b=1024 ~8.5%, n_b=4096
#: effectively nothing — at which point the sidecar word scan
#: (O(keys in the touched buckets)) is pure overhead and a bulk epoch
#: should take the plain narrow scan.  The threshold is the density
#: where expected pruning drops below ~8%: ln(1/0.08)/p ≈ 1e3.
BLOOM_PROBE_MAX_KEYS_PER_BUCKET = 1024
#: ...and only when the read it could prune is big enough to pay for
#: it.  A probe costs about six Spark jobs (key checkpoint, bucket
#: collect, key count, words scan and join, candidate collect) however
#: small the touched buckets are, while the narrow classification scan
#: it prunes grows with their rows.  Below this many manifest rows in
#: the touched buckets the plain scan is cheaper even when the probe
#: prunes half the files.  Crossover table in the module docstring.
BLOOM_PROBE_MIN_ROWS = 1_000_000


def probe_skip(
    n_keys: int, n_buckets: int = 1, rows: int | None = None
) -> dict[str, int] | None:
    """The gate in front of every MoR-side sidecar probe: ``None`` when
    probing ``n_keys`` keys spread over (at most) ``n_buckets`` hash
    buckets whose files hold ``rows`` manifest rows can pay, else the
    ``classify_bloom`` record of why not.

    Density first: keys hash uniformly, so density per touched bucket
    is ``n_keys / min(n_keys, n_buckets)`` (a batch smaller than the
    bucket count touches at most one bucket per key); past
    ``BLOOM_PROBE_MAX_KEYS_PER_BUCKET`` every file is bloom-positive.
    Then size: under ``BLOOM_PROBE_MIN_ROWS`` the probe's fixed jobs
    cost more than the scan it prunes.  ``rows=None`` (a legacy file
    without a row count) counts as unbounded.  Both inputs are known
    on the driver, so the gate itself runs no job."""
    touched = max(1, min(int(n_keys), int(n_buckets)))
    if n_keys / touched > BLOOM_PROBE_MAX_KEYS_PER_BUCKET:
        return {"skipped_bulk_keys": int(n_keys)}
    if rows is not None and rows < BLOOM_PROBE_MIN_ROWS:
        return {"skipped_small_read": int(rows)}
    return None


def probe_worthwhile(
    n_keys: int, n_buckets: int = 1, rows: int | None = None
) -> bool:
    """Whether :func:`probe_skip` lets the probe run."""
    return probe_skip(n_keys, n_buckets, rows) is None


def rows_in_buckets(
    files: dict[str, list[dict[str, Any]]], buckets
) -> int | None:
    """Sum of manifest ``rows`` over the files of ``buckets`` (a
    snapshot's ``files`` map): the read a probe could prune.  ``None``
    when any file's count is unknown."""
    total = 0
    for b in buckets:
        for fe in files.get(str(b), []):
            if fe.get("rows") is None:
                return None
            total += int(fe["rows"])
    return total


SIDECAR_DIRNAME = "_bloom"

# entries written before blooms were enabled (or by non-bloom writers)
# have no "bloom" key and are always lookup candidates.
ENTRY_KEY = "bloom"


def bloom_m_bits(rows: int) -> int:
    """Filter size for a file of ``rows`` keys: word-aligned
    rows*BITS, floored at 256 so tiny files still hash sparsely."""
    return max(256, ((rows * BLOOM_BITS_PER_KEY + 63) // 64) * 64)


def _norm_uri(col: F.Column) -> F.Column:
    """input_file_name() URI → plain absolute path.  A literal ``+``
    in the path is pre-encoded before url_decode — form decoding
    would otherwise turn it into a space and the join against the
    driver-side path would silently miss (empty sidecar = false
    negatives, the one thing a Bloom index must never produce)."""
    return F.url_decode(
        F.regexp_replace(
            F.regexp_replace(col, r"^file:/*", "/"), r"\+", "%2B"
        )
    )


def build_bloom_sidecar(
    spark: SparkSession,
    root: str,
    entries: list[dict[str, Any]],
    key_cols: list[str],
    sidecar_rel: str,
) -> None:
    """One distributed job: per-file packed Bloom words for every data
    file in ``entries`` (manifest entries carrying ``path`` and
    ``rows``), written as a parquet dir at ``root/sidecar_rel``.

    Only the key columns are read (parquet column pruning — the html
    payload never moves); the words aggregate has map-side partial
    combine, and output is at most ``sum(m_bits)/64`` rows of four
    scalars.  Entries with unknown row counts (legacy manifests only;
    writes since round 4 record rows) take theirs from the parquet
    footer on the driver — never from the executor-side path join,
    whose divergence the empty-sidecar guard below exists to catch.
    """
    if not entries:
        return
    from realdeal_spark.lake.table import _file_stats

    # abspath, not just normpath: input_file_name() yields absolute
    # URIs, so a table opened via a RELATIVE root would join nothing
    # and write an empty sidecar — silent false negatives at probe
    abs_of = {
        os.path.abspath(os.path.join(root, e["path"])): e for e in entries
    }
    paths = sorted(abs_of)
    counts: dict[str, int] = {}
    for p in paths:
        n = abs_of[p].get("rows")
        counts[p] = int(n if n is not None else _file_stats(p, {})[1] or 0)
    keys = (
        spark.read.parquet(*paths)
        .select(*key_cols)
        .withColumn("_abs", _norm_uri(F.input_file_name()))
    )
    meta = spark.createDataFrame(
        [
            (p, abs_of[p]["path"], bloom_m_bits(counts[p]))
            for p in paths
        ],
        "_abs string, path string, m_bits bigint",
    )
    words = pack_words(
        keys.join(F.broadcast(meta), on="_abs"),
        bit_positions([F.col(c) for c in key_cols], F.col("m_bits"), BLOOM_K),
        ["path", "m_bits"],
        "w",
        "word",
    )
    out = os.path.join(root, sidecar_rel)
    # fail LOUDLY if the build matched nothing despite non-empty
    # inputs: a path mismatch between the executor-side
    # input_file_name() and the driver map (relative roots, '+' in
    # paths — both now normalized away, this is the backstop) would
    # otherwise ship an empty sidecar whose probe prunes REAL rows.
    # The check is an Observation riding the write — zero extra jobs
    # (a post-write re-read measured ~1 s per commit).  Normalization
    # divergence is systematic, so rows==0 is the signature; per-file
    # partial mismatch cannot occur.
    from pyspark.sql import Observation

    obs = Observation()
    words.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "error"
    ).parquet(out)
    expected_keys = sum(counts.values())
    if expected_keys > 0 and int(obs.get["n"]) == 0:
        import shutil

        shutil.rmtree(out, ignore_errors=True)
        raise RuntimeError(
            "bloom sidecar build matched no keys for "
            f"{expected_keys} expected rows — executor/driver path "
            "normalization diverged; sidecar removed (no sidecar "
            "beats a false-negative one)"
        )


def bloom_candidate_paths(
    spark: SparkSession,
    root: str,
    keys_df: DataFrame,
    key_cols: list[str],
    covered: list[tuple[str, int, str, int | None]],
    n_keys: int | None = None,
) -> set[str]:
    """Data files (of ``covered`` = [(path, bucket, sidecar_rel,
    rows-or-None)]) that MAY contain at least one key of ``keys_df``
    (which carries the key columns plus the precomputed ``_b`` bucket
    column).

    Probe plan — sized for a words table of O(table keys) rows: the
    SMALL side (each key paired with the covered files OF ITS BUCKET
    only, exploded to its BLOOM_K probe positions) broadcasts into ONE
    streamed scan of the words parquet; a (key, file) pair is a
    candidate iff all BLOOM_K probes hit.  The words side is never
    broadcast, shuffled, or scanned twice (the first version broadcast
    the words table once per bit — 29 s of the dedup-index advance at
    a 64 M-entry index, BENCH_DEDUPIDX.md).  ``m_bits`` per file comes
    from the manifest row count (the same number the writer hashed
    with); only legacy entries with unknown rows fall back to reading
    it off their own words.  No false negatives: a file is dropped
    only if some bit of every requested key is provably unset (a probe
    position with no words row is an all-zero word).  Empty files
    write no words, get no meta row, and are correctly never
    candidates.
    """
    if not covered:
        return set()
    # Expand sidecar dirs to their part files driver-side: the dir
    # name starts with "_" (so data-dir listings hide it), and Spark's
    # hidden-path filter must never decide what a lookup reads.  A
    # sidecar that lost its parts (manual deletion) degrades its
    # files to always-candidates — correctness never depends on it.
    parts: list[str] = []
    degraded: set[str] = set()
    for sc in sorted({s for _, _, s, _ in covered}):
        full = os.path.join(root, sc)
        found = (
            sorted(
                os.path.join(full, fn)
                for fn in os.listdir(full)
                if fn.endswith(".parquet")
            )
            if os.path.isdir(full)
            else []
        )
        if found:
            parts += found
        else:
            degraded.add(sc)
    always = {p for p, _, s, _ in covered if s in degraded}
    covered = [(p, b, s, n) for p, b, s, n in covered if s not in degraded]
    if not covered:
        return always
    path_set = [p for p, _, _, _ in covered]
    words = spark.read.parquet(*parts).where(F.col("path").isin(path_set))
    # m_bits per covered file, driver-side: derived from the manifest
    # row count exactly as the writer derived it.  Legacy entries
    # (rows unknown) read theirs off their own words — a scan pruned
    # to just those files, absent entirely on post-round-4 manifests.
    m_of: dict[str, int] = {
        p: bloom_m_bits(int(n)) for p, _, _, n in covered if n is not None
    }
    unknown = [p for p, _, _, n in covered if n is None]
    if unknown:
        for r in (
            words.where(F.col("path").isin(unknown))
            .select("path", "m_bits")
            .distinct()
            .collect()
        ):
            m_of[r["path"]] = int(r["m_bits"])
    fmeta = spark.createDataFrame(
        [(p, b, m_of[p]) for p, b, _, _ in covered if p in m_of],
        "path string, _b int, m_bits bigint",
    )

    # SMALL side: (key × its bucket's files) exploded to BLOOM_K probe
    # positions.  Bounded by the probe_skip density gate at the
    # merge/feed call sites, so it broadcasts; the O(table keys) words
    # side streams through exactly one join.  An ungated bulk lookup
    # (caller passes a large n_keys) drops the hint and lets the
    # planner shuffle both sides — correct either way.
    n_buckets_touched = max(1, len({b for _, b, _, _ in covered}))
    # unknown key count (n_keys=None) must NOT default to the
    # broadcast branch — an ungated bulk caller would broadcast an
    # unbounded probes frame; with no estimate, let the planner decide
    est_probe_rows = (
        (n_keys * len(covered) * BLOOM_K) // n_buckets_touched
        if n_keys is not None
        else None
    )
    may_broadcast = (
        est_probe_rows is not None and est_probe_rows <= 5_000_000
    )
    pairs = keys_df.join(F.broadcast(fmeta), on="_b")
    pos_arr = bit_positions(
        [F.col(c) for c in key_cols], F.col("m_bits"), BLOOM_K
    )
    probes = pairs.select(
        "path", *key_cols, F.posexplode(pos_arr).alias("_i", "_pos")
    ).select(
        "path",
        *key_cols,
        "_i",
        word_index("_pos").alias("w"),
        word_bit("_pos").alias("_bit"),
    )
    # inner join: a probe position with no words row targets an
    # all-zero word (the writer only emits words with a bit set) —
    # that probe misses, the (key, file) pair needs all BLOOM_K hits
    hits = (
        words.select("path", "w", "word")
        .join(
            F.broadcast(probes) if may_broadcast else probes,
            on=["path", "w"],
        )
        .where(F.col("word").bitwiseAND(F.col("_bit")) != 0)
    )
    cand = (
        hits.groupBy("path", *key_cols)
        .agg(F.count_distinct("_i").alias("_n"))
        .where(F.col("_n") == BLOOM_K)
        .select("path")
        .distinct()
    )
    return always | {r["path"] for r in cand.collect()}
