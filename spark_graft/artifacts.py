"""Trained-artifact persistence: save/load the four trained models the
engine produces — BPE merge lists (`vocab_bpe_train`), kmeans centroid
matrices (`clustering.lloyd_centroids`), PQ codebooks
(`similarity._pq_codebooks`), and quality-classifier weights
(`pipeline.quality_classifier`, r12) — as parquet + a JSON meta sidecar, so the
production contract their docstrings promise (train ONCE, persist,
serve many corpora without re-training) is a real code path instead of
prose. VERDICT r10 item 3.

The reference's iterative driver (main.cpp:28-68) re-trains every run
because it is a single-process demo; at 100 TB the merge list /
centroid matrix / codebook is the asset — kilobytes that gate hours of
cluster time — and re-deriving it per serving job would repeat the full
training scan. Serving consumers accept a path to one of these
artifacts (`vocab_bpe_apply(merges_path=...)`,
`sim_ann_ivf_trained(centroids_path=...)`, `sim_ann_pq(
codebooks_path=...)`) and skip training entirely; for bpe_apply the
served plan is a pure narrow replace() chain — zero shuffles,
plan-asserted in tests/test_artifacts.py.

Format (format_version 1): a directory holding
  - data.parquet — the payload rows (schema per kind, below)
  - meta.json    — {"kind", "format_version", "params",
                    "data_fingerprint", "trained_on", "payload_sha256"}
written driver-side with pyarrow, ATOMICALLY: staged into a temp
directory and renamed over the target, so a crash mid-save or a
concurrent reader never sees a mismatched payload/meta pair, and the
loader verifies payload_sha256 against the parquet bytes (artifacts
saved before r12 lack the key and skip that check). Every payload is
O(kilobytes)
(merges: rounds x 2 strings; centroids: k x dim int64; codebooks:
M x KS x sub_d int64), so distributed IO would be overhead — the
parquet is still a plain dataset any engine (or a Spark read at serve
time) can load.

Fingerprint validation: meta records
`_data_fingerprint(sf_dir, table)` of the TRAINING table
(documents for merges, embeddings for centroids/codebooks). Loading
with a `sf_dir` recomputes and compares — serving an artifact against
the corpus it was trained on is validated for free, and a stale
artifact after an overwrite raises `ArtifactMismatch` instead of
silently serving wrong codes. Cross-corpus serving — the actual
train-once/serve-many case — passes `validate=False` (or no sf_dir),
which skips the comparison but still checks kind and format_version.
`validate` defaults to None = "validate iff sf_dir is given"; an
explicit `validate=True` WITHOUT sf_dir raises instead of silently
no-opping (ADVICE r11), so the signature reflects the actual behavior.
"""

from __future__ import annotations

import json
import os
from typing import Any

FORMAT_VERSION = 1

_KINDS = {
    "bpe_merges": "documents",
    "kmeans_centroids": "embeddings",
    "pq_codebooks": "embeddings",
    "quality_weights": "documents",
    "novelty_seed_index": "documents",
    "paragraph_seed_index": "documents",
    "mixture_reference": "documents",
    "dsir_ratios": "documents",
    "preference_ratings": "documents",
    "curriculum_thresholds": "documents",
}


class ArtifactMismatch(ValueError):
    """Artifact kind/version/fingerprint does not match what the caller
    asked to serve."""


def _data_fingerprint(sf_dir: str, table_name: str) -> tuple:
    """Cheap change detector for the `table_name` table at `sf_dir`:
    (path, mtime_ns, size) of the parquet file, or of every part file
    when it is a directory. Never reads data pages. Part files are
    keyed by their path RELATIVE to the dataset root and the whole
    list is sorted (ADVICE r9: bare basenames collide across
    partition subdirectories, and os.walk's traversal order is
    unspecified — both could alias two different datasets or cause
    spurious mismatches)."""
    path = os.path.join(sf_dir, f"{table_name}.parquet")
    try:
        if os.path.isdir(path):
            out = []
            for root, _, files in os.walk(path):
                for f in files:
                    full = os.path.join(root, f)
                    st = os.stat(full)
                    out.append(
                        (os.path.relpath(full, path), st.st_mtime_ns, st.st_size)
                    )
            return tuple(sorted(out))
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ("unstatable",)  # non-local paths


def _jsonable(v: Any) -> Any:
    """Fingerprint tuples -> nested lists, so saved and recomputed
    fingerprints compare equal after a JSON round-trip."""
    return json.loads(json.dumps(v))


def _glob_siblings(path: str, suffix: str) -> list[str]:
    """glob for `<path><suffix>` with the PATH escaped — artifact paths
    containing glob metacharacters ([, ?, *; e.g. parametrized test
    ids) must not silently match nothing (code-review r12)."""
    import glob

    return glob.glob(glob.escape(path) + suffix)


def _old_siblings(path: str) -> list[str]:
    """`<path>.old-*` directories, oldest first (mtime; entries that
    vanish mid-listing — a racing writer's cleanup — are skipped)."""
    out = []
    for p in _glob_siblings(path, ".old-*"):
        try:
            out.append((os.path.getmtime(p), p))
        except OSError:
            pass
    return [p for _, p in sorted(out)]


def _write(path: str, kind: str, pa_table, params: dict, sf_dir: str | None) -> None:
    """Atomically (re)write the artifact directory.

    The payload and meta are staged into a sibling temp directory and
    swapped in with directory renames, so a crash mid-save or a
    concurrent reader never observes a MISMATCHED payload/meta pair;
    meta additionally records a sha256 of the payload bytes (verified
    on load) so even a torn copy of the directory is caught (ADVICE
    r11). POSIX rename cannot atomically replace a non-empty
    directory, so there is an unavoidable instant between the two
    renames where `path` itself is absent and the previous artifact
    sits at `<path>.old-<pid>`; `_read` transparently falls back to
    that sibling, so a reader racing the swap (or following a save
    crashed inside the window) still serves the last COMPLETE
    artifact. Stale .tmp-*/.old-* debris from crashed saves of ANY pid
    is cleared at the start of the next save (concurrent saves to the
    same path are not supported — last writer wins, as with any
    overwrite)."""
    import hashlib
    import shutil

    import pyarrow.parquet as pq

    # recovery BEFORE cleanup: if a previous save crashed between its
    # two renames, the only complete artifact is an .old-* sibling —
    # restore it to the primary path first, so readers always have a
    # complete artifact to hit while THIS save spends time writing,
    # and a crash during this save cannot lose it (code-review r12)
    if not os.path.exists(path):
        olds = _old_siblings(path)
        if olds:
            os.rename(olds[-1], path)
    for stale in _glob_siblings(path, ".tmp-*") + _old_siblings(path):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    os.makedirs(tmp)
    data_path = os.path.join(tmp, "data.parquet")
    pq.write_table(pa_table, data_path)
    with open(data_path, "rb") as f:
        payload_sha = hashlib.sha256(f.read()).hexdigest()
    meta = {
        "kind": kind,
        "format_version": FORMAT_VERSION,
        "params": params,
        "trained_on": sf_dir,
        "payload_sha256": payload_sha,
        "data_fingerprint": (
            _jsonable(_data_fingerprint(sf_dir, _KINDS[kind]))
            if sf_dir is not None
            else None
        ),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    old = f"{path}.old-{os.getpid()}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def artifact_fingerprint(path: str) -> str:
    """The artifact's payload sha256 — its VERSION identifier — read
    racing-writer-safe (same primary/.old-* retry discipline as _read).
    Use this instead of an mtime probe when keying a cache on artifact
    identity: os.path.getmtime(path) has no fallback through the
    atomic-swap window where `path` is briefly absent, so it can crash
    a reader the swap contract promises to serve (code-review r13).
    Artifacts saved before r12 lack payload_sha256 in meta.json; the
    fingerprint is then computed by hashing data.parquet directly —
    inside the same retry attempt as the meta read, so the pair always
    comes from one complete directory — instead of returning "" and
    letting every version of such an artifact collide on one cache key
    (ADVICE r13)."""
    import hashlib

    meta, payload = None, None
    read_dir = path
    for _ in range(4):
        try:
            with open(os.path.join(read_dir, "meta.json")) as f:
                meta = json.load(f)
            if meta.get("payload_sha256") is None:
                with open(os.path.join(read_dir, "data.parquet"), "rb") as f:
                    payload = f.read()
            break
        except FileNotFoundError:
            meta = payload = None
            olds = _old_siblings(path)
            read_dir = olds[-1] if read_dir == path and olds else path
    if meta is None:
        with open(os.path.join(path, "meta.json")) as f:  # raise cleanly
            meta = json.load(f)
        if meta.get("payload_sha256") is None:
            with open(os.path.join(path, "data.parquet"), "rb") as f:
                payload = f.read()
    sha = meta.get("payload_sha256")
    return sha if sha is not None else hashlib.sha256(payload).hexdigest()


def _read(path: str, kind: str, sf_dir: str | None, validate: bool | None):
    import hashlib

    import pyarrow.parquet as pq

    # validate=None (the default) means "validate iff sf_dir given".
    # An EXPLICIT validate=True with no sf_dir used to silently no-op
    # (ADVICE r11); it now refuses, so a caller who believes staleness
    # validation is on never runs without it.
    if validate and sf_dir is None:
        raise ArtifactMismatch(
            f"{path}: validate=True requires sf_dir= (the corpus to "
            f"fingerprint against); pass sf_dir or drop validate"
        )
    # Resolve the directory to read, racing-writer-safe: try the
    # primary path, fall back to the newest complete .old-* sibling (a
    # save crashed or is mid-swap between its two renames), and RETRY
    # the primary if the sibling vanishes under us (the writer's
    # completing rename deletes .old-* right after installing the new
    # primary — so a miss on one side means the other side now exists;
    # code-review r12). BOTH files are read inside the same attempt
    # (ADVICE r12): a reader that resolved meta from an .old-* sibling
    # must not then open data.parquet AFTER the writer's end-of-save
    # cleanup deleted that sibling — meta and payload come from one
    # directory in one attempt, and the payload is parsed from memory
    # so nothing re-touches the path afterwards.
    meta, payload = None, None
    read_dir = path
    for _ in range(4):
        try:
            with open(os.path.join(read_dir, "meta.json")) as f:
                meta = json.load(f)
            with open(os.path.join(read_dir, "data.parquet"), "rb") as f:
                payload = f.read()
            break
        except FileNotFoundError:
            meta = payload = None
            olds = _old_siblings(path)
            read_dir = olds[-1] if read_dir == path and olds else path
    if meta is None:
        with open(os.path.join(path, "meta.json")) as f:  # raise cleanly
            meta = json.load(f)
        with open(os.path.join(path, "data.parquet"), "rb") as f:
            payload = f.read()
    want_sha = meta.get("payload_sha256")
    if want_sha is not None:  # absent in artifacts saved before r12
        if hashlib.sha256(payload).hexdigest() != want_sha:
            raise ArtifactMismatch(
                f"{path}: payload sha256 does not match meta.json — "
                f"torn or corrupted artifact copy"
            )
    if meta.get("kind") != kind:
        raise ArtifactMismatch(
            f"{path}: artifact kind {meta.get('kind')!r}, expected {kind!r}"
        )
    if meta.get("format_version") != FORMAT_VERSION:
        raise ArtifactMismatch(
            f"{path}: format_version {meta.get('format_version')}, "
            f"reader supports {FORMAT_VERSION}"
        )
    if validate is not False and sf_dir is not None:
        if meta.get("data_fingerprint") is None:
            # validation REQUESTED but impossible: the artifact was
            # saved without a training fingerprint. Silently skipping
            # would serve stale/wrong data under the staleness contract
            # the caller just asked for.
            raise ArtifactMismatch(
                f"{path}: validation against {sf_dir} requested, but this "
                f"artifact was saved without a training fingerprint "
                f"(save with sf_dir=... to enable it); pass validate=False "
                f"to serve it without the staleness check"
            )
        now = _jsonable(_data_fingerprint(sf_dir, _KINDS[kind]))
        if now != meta["data_fingerprint"]:
            raise ArtifactMismatch(
                f"{path}: fingerprint of {_KINDS[kind]} at {sf_dir} does not "
                f"match the data this artifact was trained on "
                f"({meta.get('trained_on')}); pass validate=False to serve "
                f"a pre-trained artifact on a different corpus"
            )
    import io

    return pq.read_table(io.BytesIO(payload)), meta


# ------------------------------------------------------------- BPE merges


def save_bpe_merges(
    path: str, merges: list[tuple[str, str]], *, sf_dir: str | None = None
) -> None:
    """Persist an ORDERED BPE merge list (application order matters:
    round r's pair may contain round r-1's merged token)."""
    import pyarrow as pa

    _write(
        path,
        "bpe_merges",
        pa.table(
            {
                "merge_round": list(range(1, len(merges) + 1)),
                "x": [x for x, _ in merges],
                "y": [y for _, y in merges],
            },
            schema=pa.schema(
                [("merge_round", pa.int32()), ("x", pa.string()), ("y", pa.string())]
            ),
        ),
        {"n_merges": len(merges)},
        sf_dir,
    )


def load_bpe_merges(
    path: str, *, sf_dir: str | None = None, validate: bool | None = None
) -> list[tuple[str, str]]:
    t, _ = _read(path, "bpe_merges", sf_dir, validate)
    d = t.sort_by("merge_round").to_pydict()
    return list(zip(d["x"], d["y"]))


def train_and_save_bpe(spark, sf_dir: str, path: str) -> list[tuple[str, str]]:
    """Run the vocab_bpe_train loop and persist its merge list — the
    train half of the train-once/serve-many pipeline."""
    # import the module (registering its @query decorators) rather than
    # assuming the caller already ran load_all_queries() — a fresh
    # process calling only artifacts.* would otherwise KeyError here
    from spark_graft.operators import vocab  # noqa: F401
    from spark_graft.registry import REGISTRY

    rows = REGISTRY["vocab_bpe_train"].fn(spark, sf_dir).orderBy("merge_round").collect()
    merges = [(r["x"], r["y"]) for r in rows]
    save_bpe_merges(path, merges, sf_dir=sf_dir)
    return merges


# ------------------------------------------------------- kmeans centroids


def save_kmeans_centroids(
    path: str, cents: dict[int, list[int]], *, sf_dir: str | None = None
) -> None:
    import pyarrow as pa

    cids = sorted(cents)
    _write(
        path,
        "kmeans_centroids",
        pa.table(
            {"cluster": cids, "q": [cents[c] for c in cids]},
            schema=pa.schema(
                [("cluster", pa.int64()), ("q", pa.list_(pa.int64()))]
            ),
        ),
        {"k": len(cids), "dim": len(cents[cids[0]]) if cids else 0},
        sf_dir,
    )


def load_kmeans_centroids(
    path: str, *, sf_dir: str | None = None, validate: bool | None = None
) -> dict[int, list[int]]:
    t, _ = _read(path, "kmeans_centroids", sf_dir, validate)
    d = t.to_pydict()
    return {int(c): [int(v) for v in q] for c, q in zip(d["cluster"], d["q"])}


def train_and_save_centroids(spark, sf_dir: str, path: str, k: int | None = None):
    from spark_graft.operators.clustering import K, lloyd_centroids

    cents = lloyd_centroids(spark, sf_dir, k if k is not None else K)
    save_kmeans_centroids(path, cents, sf_dir=sf_dir)
    return cents


# ----------------------------------------------------------- PQ codebooks


def save_pq_codebooks(
    path: str, cb: list[dict[int, list[int]]], *, sf_dir: str | None = None
) -> None:
    import pyarrow as pa

    ms, clusters, qcs = [], [], []
    for m, book in enumerate(cb):
        for c in sorted(book):
            ms.append(m)
            clusters.append(c)
            qcs.append(book[c])
    _write(
        path,
        "pq_codebooks",
        pa.table(
            {"m": ms, "cluster": clusters, "qc": qcs},
            schema=pa.schema(
                [
                    ("m", pa.int64()),
                    ("cluster", pa.int64()),
                    ("qc", pa.list_(pa.int64())),
                ]
            ),
        ),
        {"n_subspaces": len(cb), "sub_d": len(qcs[0]) if qcs else 0},
        sf_dir,
    )


def load_pq_codebooks(
    path: str, *, sf_dir: str | None = None, validate: bool | None = None
) -> list[dict[int, list[int]]]:
    t, meta = _read(path, "pq_codebooks", sf_dir, validate)
    d = t.to_pydict()
    cb: list[dict[int, list[int]]] = [
        dict() for _ in range(int(meta["params"]["n_subspaces"]))
    ]
    for m, c, qc in zip(d["m"], d["cluster"], d["qc"]):
        cb[int(m)][int(c)] = [int(v) for v in qc]
    return cb


# ------------------------------------------------- quality-classifier weights


def save_quality_weights(
    path: str, w: list[int], *, sf_dir: str | None = None
) -> None:
    """Persist the 4 fixed-point quality-classifier weights (bias,
    token-count, stopword, token-length features — micro-units)."""
    import pyarrow as pa

    _write(
        path,
        "quality_weights",
        pa.table(
            {"j": list(range(len(w))), "w": [int(v) for v in w]},
            schema=pa.schema([("j", pa.int32()), ("w", pa.int64())]),
        ),
        {"n_features": len(w)},
        sf_dir,
    )


def load_quality_weights(
    path: str, *, sf_dir: str | None = None, validate: bool | None = None
) -> list[int]:
    t, meta = _read(path, "quality_weights", sf_dir, validate)
    d = t.sort_by("j").to_pydict()
    w = [int(v) for v in d["w"]]
    # refuse wrong-shape models here, like the PQ loader does — a
    # 3-weight artifact would otherwise die with a bare IndexError deep
    # inside plan construction (code-review r12)
    if len(w) != 4 or meta.get("params", {}).get("n_features") not in (None, len(w)):
        raise ArtifactMismatch(
            f"{path}: expected 4 quality-classifier weights, got {len(w)} "
            f"(meta n_features={meta.get('params', {}).get('n_features')})"
        )
    return w


def train_and_save_quality(spark, sf_dir: str, path: str) -> list[int]:
    """Run the quality_classifier descent loop and persist the weights
    — the train half of its train-once/serve-many contract."""
    from spark_graft.operators.pipeline import _qc_features, _qc_train

    w = _qc_train(_qc_features(spark, sf_dir).localCheckpoint())
    save_quality_weights(path, w, sf_dir=sf_dir)
    return w


# --------------------------------------------------- mixture reference

MIXTURE_SCALE = 1_000_000  # fixed-point scale for token shares


def save_mixture_reference(
    path: str, shares: dict[str, int], *, sf_dir: str | None = None
) -> None:
    """Persist a reference token mixture: language -> fixed-point token
    share (micro-units; the values of a healthy corpus snapshot, the
    yardstick `streaming.mixture_drift_stream` monitors ingest
    against). Shares are int micro-units so the drift comparison is
    exact int64 arithmetic, like every artifact-served contract."""
    import pyarrow as pa

    langs = sorted(shares)
    _write(
        path,
        "mixture_reference",
        pa.table(
            {"lang": langs, "share_fx": [int(shares[l]) for l in langs]},
            schema=pa.schema([("lang", pa.string()), ("share_fx", pa.int64())]),
        ),
        {"n_langs": len(langs), "scale": MIXTURE_SCALE},
        sf_dir,
    )


def load_mixture_reference(
    path: str, *, sf_dir: str | None = None, validate: bool | None = None
) -> dict[str, int]:
    t, meta = _read(path, "mixture_reference", sf_dir, validate)
    d = t.to_pydict()
    shares = {l: int(s) for l, s in zip(d["lang"], d["share_fx"])}
    # refuse malformed references up front (the quality-weights shape
    # contract): negative shares or a total above the scale can only be
    # a corrupted or wrong-kind payload
    if any(v < 0 for v in shares.values()) or sum(shares.values()) > MIXTURE_SCALE:
        raise ArtifactMismatch(
            f"{path}: mixture shares must be nonnegative micro-units "
            f"summing to <= {MIXTURE_SCALE}, got {shares}"
        )
    n = meta.get("params", {}).get("n_langs")
    if n is not None and n != len(shares):
        raise ArtifactMismatch(
            f"{path}: meta n_langs={n} but payload has {len(shares)} languages"
        )
    return shares


# ------------------------------------------------- novelty-gate seed index


def save_novelty_seed_index(path: str, seed_df, *, sf_dir: str | None = None) -> None:
    """Persist a `streaming.build_novelty_seed_index` DataFrame as a
    real artifact (VERDICT r12 item 6): until r13 the seed index was
    the one persisted model WITHOUT artifacts discipline — a bare
    parquet with no meta.json, no training fingerprint, and no
    staleness refusal, silently servable against the wrong corpus.
    The payload is (band, sig, doc_id, sh) rows; the documented size
    scope is broadcast-able (it loads whole per executor — see
    `streaming._seed_index`), so the driver-side collect here is
    within contract. Pass `sf_dir` to record the fingerprint of the
    documents table the admitted corpus came from; loading with an
    `sf_dir` then revalidates, and a mismatch raises ArtifactMismatch
    exactly like BPE merges / centroids / codebooks."""
    import pyarrow as pa

    pdf = seed_df.toPandas()
    _write(
        path,
        "novelty_seed_index",
        pa.Table.from_pandas(pdf, preserve_index=False).cast(
            pa.schema(
                [
                    ("band", pa.int32()),
                    ("sig", pa.string()),
                    ("doc_id", pa.int64()),
                    ("sh", pa.string()),
                ]
            )
        ),
        {"n_rows": len(pdf)},
        sf_dir,
    )


def load_novelty_seed_index(
    path: str,
    *,
    sf_dir: str | None = None,
    validate: bool | None = None,
    return_meta: bool = False,
):
    """Load a seed-index artifact as a pyarrow Table after the full
    artifact checks (kind, format_version, payload sha256, and — with
    `sf_dir` — the training-corpus fingerprint). With
    `return_meta=True` returns `(table, meta)` so a caller keying a
    cache on artifact version can derive the key from the
    payload_sha256 of the payload ACTUALLY READ — a separate
    `artifact_fingerprint` probe has a TOCTOU with the load: a re-save
    landing between the two would cache the new payload under the old
    sha (ADVICE r13)."""
    t, meta = _read(path, "novelty_seed_index", sf_dir, validate)
    return (t, meta) if return_meta else t


def save_paragraph_seed_index(
    path: str, seed_df, *, sf_dir: str | None = None, boundary: str = "window"
) -> None:
    """Persist a `streaming.build_paragraph_seed_index` DataFrame —
    the batch paragraph-dedup keeper table (fp, keep_doc_id, keep_pos),
    one row per distinct paragraph md5 of an admitted corpus — under
    the same artifact contract as the novelty seed (meta.json, payload
    sha256, optional training-corpus fingerprint with ArtifactMismatch
    staleness refusal, atomic swap). Feed the path to
    `paragraph_dedup_stream(seed_index_path=...)` so a checkpoint-less
    redeploy of the paragraph gate does not re-admit every paragraph
    the old deployment knew (VERDICT r16 item 2). Size scope is
    broadcast-able, same as the novelty seed: ~40 bytes per distinct
    paragraph, loaded whole per executor (`streaming._para_seed_index`);
    beyond that, preload the state store (transformWithState
    initialState) instead.

    `boundary` (r18): record WHICH paragraph boundary mode produced the
    seed's fingerprints — pass the same value given to
    `build_paragraph_seed_index`. Window-mode and newline-mode
    fingerprints are disjoint hash spaces, so a consumer must be able
    to refuse the wrong mode (`paragraph_dedup_stream` is window-only
    and rejects a newline seed at construction) rather than silently
    matching nothing."""
    import pyarrow as pa

    if boundary not in ("window", "newline"):
        raise ValueError(f"unknown paragraph boundary mode: {boundary!r}")
    pdf = seed_df.toPandas()
    _write(
        path,
        "paragraph_seed_index",
        pa.Table.from_pandas(pdf, preserve_index=False).cast(
            pa.schema(
                [
                    ("fp", pa.string()),
                    ("keep_doc_id", pa.int64()),
                    ("keep_pos", pa.int32()),
                ]
            )
        ),
        {"n_rows": len(pdf), "boundary": boundary},
        sf_dir,
    )


def load_paragraph_seed_index(
    path: str,
    *,
    sf_dir: str | None = None,
    validate: bool | None = None,
    return_meta: bool = False,
):
    """Load a paragraph-seed-index artifact as a pyarrow Table after
    the full artifact checks (kind, format_version, payload sha256,
    and — with `sf_dir` — the training-corpus fingerprint); the
    `return_meta` contract matches `load_novelty_seed_index` (cache
    keys derive from the payload ACTUALLY READ)."""
    t, meta = _read(path, "paragraph_seed_index", sf_dir, validate)
    return (t, meta) if return_meta else t


def save_dsir_ratios(path: str, ratios_df, *, sf_dir: str | None = None) -> None:
    """Persist `operators.pipeline.dsir_ratio_table(..., dense=True)` —
    the fitted DSIR model: one fixed-point target/raw probability ratio
    per hashed n-gram bucket (DSIR_DIM rows, so the driver-side collect
    is O(model), like kmeans centroids). Build it DENSE: a streamed doc
    can hash new vocabulary into a bucket the fit corpus never touched,
    and the serving plan needs a ratio for every dim. Feed the path to
    `streaming.dsir_score_stream` for score-on-ingest selection with
    the exact batch arithmetic."""
    import pyarrow as pa

    pdf = ratios_df.toPandas()
    if len(pdf) != len(set(pdf["dim"])):
        raise ValueError("dsir ratios carry duplicate dims")
    _write(
        path,
        "dsir_ratios",
        pa.Table.from_pandas(pdf, preserve_index=False).cast(
            pa.schema([("dim", pa.int32()), ("w", pa.int64())])
        ),
        {"n_rows": len(pdf)},
        sf_dir,
    )


def load_dsir_ratios(
    path: str, *, sf_dir: str | None = None, validate: bool | None = None
) -> dict[int, int]:
    """{dim: w} after the full artifact checks — DSIR_DIM fixed-point
    ratios, small enough to bake into a serving plan as literals (the
    BPE-merges / quality-weights train-once/serve-many contract)."""
    t, _ = _read(path, "dsir_ratios", sf_dir, validate)
    d = t.to_pydict()
    return {int(k): int(v) for k, v in zip(d["dim"], d["w"])}


def train_and_save_pq(spark, sf_dir: str, path: str):
    from pyspark.sql import functions as F

    from spark_graft.operators.similarity import (
        PQ_M,
        _pq_codebooks,
        nonzero_vec,
    )
    from spark_graft.sources import table

    e = table(spark, sf_dir, "embeddings").filter(nonzero_vec(F.col("embedding")))
    first = e.select(F.size("embedding")).first()
    if first is None:
        raise ValueError(f"no nonzero embeddings at {sf_dir}: nothing to train on")
    cb = _pq_codebooks(spark, e, int(first[0]) // PQ_M)
    save_pq_codebooks(path, cb, sf_dir=sf_dir)
    return cb


def save_preference_ratings(path: str, ratings_df, *, sf_dir: str | None = None) -> None:
    """Persist a fitted `operators.curriculum.preference_rating[_frame]`
    result — (doc_id, rating_fx), the Bradley-Terry strength per rated
    item — under the standard artifact contract. Feed the path to
    `streaming.judgment_consistency_stream` to QA arriving pairwise
    judgments against the frozen fitted order on ingest. O(rated items)
    rows: bounded by sources x 2K for the default judgment stream, and
    by the judged-item universe generally — the rating table of a
    preference dataset, not of the corpus."""
    import pyarrow as pa

    pdf = ratings_df.toPandas()[["doc_id", "rating_fx"]]
    if len(pdf) != len(set(pdf["doc_id"])):
        raise ValueError("preference ratings carry duplicate doc_ids")
    _write(
        path,
        "preference_ratings",
        pa.Table.from_pandas(pdf, preserve_index=False).cast(
            pa.schema([("doc_id", pa.int64()), ("rating_fx", pa.int64())])
        ),
        {"n_rows": len(pdf)},
        sf_dir,
    )


def load_preference_ratings(
    path: str, *, sf_dir: str | None = None, validate: bool | None = None
):
    """Load a preference-ratings artifact as a pyarrow Table after the
    full artifact checks (kind, format_version, payload sha256, and —
    with `sf_dir` — the training-corpus fingerprint)."""
    t, _ = _read(path, "preference_ratings", sf_dir, validate)
    return t


def save_curriculum_thresholds(path: str, thresholds, *, sf_dir: str | None = None) -> None:
    """Persist a fitted curriculum stage map — the CURRICULUM_STAGES-1
    length thresholds `operators.curriculum.curriculum_thresholds`
    derives from a fit corpus (L_k = min token length whose fitted
    stage exceeds k; CURRICULUM_SENTINEL when none does) — so
    `streaming.curriculum_stage_stream` can assign training stages on
    ingest with the EXACT fitted quantile boundaries. O(stages) ints:
    the whole model bakes into the serving plan as literals."""
    import pyarrow as pa

    ts = [int(t) for t in thresholds]
    if ts != sorted(ts):
        raise ValueError(f"curriculum thresholds must be nondecreasing: {ts}")
    _write(
        path,
        "curriculum_thresholds",
        pa.table(
            {"k": list(range(1, len(ts) + 1)), "max_len": ts},
            schema=pa.schema([("k", pa.int32()), ("max_len", pa.int64())]),
        ),
        {"n_stages": len(ts) + 1},
        sf_dir,
    )


def load_curriculum_thresholds(
    path: str, *, sf_dir: str | None = None, validate: bool | None = None
) -> list[int]:
    """The fitted [u_1..u_{S-1}] length thresholds after the full
    artifact checks, ordered by k."""
    t, _ = _read(path, "curriculum_thresholds", sf_dir, validate)
    rows = sorted(zip(t["k"].to_pylist(), t["max_len"].to_pylist()))
    return [int(v) for _, v in rows]
