"""Persisted ANN index: train the IVF coarse quantizer + PQ codebooks
ONCE, save them with the encoded corpus, then serve many searches and
incremental adds against the SAVED parameters — the FAISS lifecycle
(train / add / search / persist), which s03/s04's train-per-query
registry entries deliberately do not model.

Layout under ``index_path``::

    _ann_meta.json    quantizer parameters: coarse centroids, PQ
                      codebooks, m/k_codes/n_cells/d/by_residual.
                      JSON floats round-trip exactly (repr shortest
                      form), so a loaded index reproduces searches
                      bit-for-bit — pinned in tests.
    codes/epoch=N/    the encoded corpus (vec_id, cluster, codes):
                      epoch 0 is the build, each add_batch appends one
                      epoch (parquet _SUCCESS commit, the repo-wide
                      epoch discipline). ~ (8 + m) small ints per
                      vector — at 100 TB of raw embeddings (64-dim
                      float32 = 256 B/vec) the m=4 index is ~3% of
                      corpus bytes, and search scans ONLY it.

Contract: quantizers are FROZEN at build time (the FAISS contract —
adds never retrain). Therefore add_batch(new) == re-encoding the union
under the same saved parameters, which tests pin exactly; drift from a
fresh retrain on the grown corpus is a quality question for the
caller's re-index policy — and round 10 gives that policy an
operator: ``quantization_error``/``drift_ratio`` measure it (vs the
``train_error`` frozen in the meta at build), and ``rebuild``
re-trains into a fresh path with the same geometry.

Lifecycle (round 10 — the add_batch tail):

- ``delete_ids`` appends a TOMBSTONE epoch (vec_id, asof) under
  ``tombstones/``; reads anti-join them (a tombstone masks codes
  epochs whose ORIGIN is <= its asof, so re-adding a deleted id
  resurrects it — the add lands in a later epoch the tombstone does
  not reach).
- ``compact_codes`` folds all committed codes epochs + tombstones into
  ONE new epoch (the thousand-small-files answer; compact_parquet's
  analog for this layout, which plain-dir compaction cannot serve
  because epoch dirs are commit units). Crash-safe via a
  ``_compaction.json`` marker (put-if-absent; stage -> marker ->
  rename -> record origin -> cleanup -> drop marker); every mutation
  path completes a dead compactor's pending work first, and the read
  path is correct in every window (marker + committed new epoch =>
  old epochs excluded even before cleanup finishes). The compacted
  epoch records its ORIGIN (the newest epoch it absorbed) in
  ``_codes_meta.json`` so a tombstone committed while the compactor
  was staging still masks the surviving copies of its rows.
- Mutation paths (add/delete/compact) assume one MAINTAINER process
  at a time — the FAISS index-maintenance model; a racing second
  compactor fails loudly on the marker put-if-absent. Serving reads
  PLANNED after any mutation commits see a consistent view; a read
  planned BEFORE a compaction's cleanup may still hold absorbed epoch
  paths in its plan and fail loudly with FileNotFound once they are
  deleted (the Delta-vacuum caveat — an availability break under
  concurrent compaction, never wrong results).

Search goes through pq.search_encoded — the SAME code path the golden-
pinned s04/s05 entries execute — so loaded-index search equals freshly-
trained search structurally, not just numerically.

Reference parity: no reference analog (SURVEY §2 Part B extension).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.fsutil import read_json, write_json
from ..streaming.ingest import _committed_epochs
from .pq import _K_CODES, _M_SUB, pq_encode, search_encoded, train_pq_codebooks

_META = "_ann_meta.json"
_CODES_SCHEMA = "vec_id bigint, cluster int, codes array<int>"
_TOMB_SCHEMA = "vec_id bigint, asof int"
_COMPACTION_MARKER = "_compaction.json"
_CODES_META = "_codes_meta.json"
_INGEST_CLAIM = "_ingest_claim.json"
_INGEST_LEDGER = "_ingest_log"


class AnnIndex:
    """Driver-side handle: quantizer parameters + the codes path."""

    def __init__(
        self, spark: SparkSession, index_path: str, meta: dict
    ) -> None:
        self.spark = spark
        self.index_path = index_path
        self.n_cells = meta["n_cells"]
        self.m = meta["m"]
        self.k_codes = meta["k_codes"]
        self.d = meta["d"]
        self.by_residual = meta["by_residual"]
        self.centroids = meta["centroids"]
        self.codebooks = meta["codebooks"]
        # absent on pre-round-10 indexes (drift_ratio explains)
        self.meta_train_error = meta.get("train_error")
        # None on exact-trained / pre-round-12 indexes
        self.train_sample = meta.get("train_sample")

    # -- persistence -------------------------------------------------

    @classmethod
    def load(cls, spark: SparkSession, index_path: str) -> "AnnIndex":
        meta = read_json(spark, os.path.join(index_path, _META))
        if meta is None:
            raise FileNotFoundError(f"no ANN index at {index_path}")
        return cls(spark, index_path, meta)

    def _codes_path(self) -> str:
        return os.path.join(self.index_path, "codes")

    def _tombstones_path(self) -> str:
        return os.path.join(self.index_path, "tombstones")

    def _marker_path(self) -> str:
        return os.path.join(self.index_path, _COMPACTION_MARKER)

    def _ingest_claim_path(self) -> str:
        return os.path.join(self.index_path, _INGEST_CLAIM)

    def _check_no_pending_ingest(self) -> None:
        """Single-maintainer enforcement against the STREAMING ingest
        (streaming/ingest.py::streaming_ann_ingest): a live ingest
        claim names a codes epoch the stream is mid-commit on — a
        manual mutation choosing max+1 would collide with it (an
        add_batch would overwrite the claimed slot; a compaction would
        commit a fold INTO it, and the restarted stream would then skip
        its encode as already-committed — silent data loss). A claim
        whose stream epoch already committed its ledger entry is merely
        CONSUMED (the stream died between ledger commit and claim
        drop) and is swept here; a genuinely pending one refuses."""
        claim = read_json(self.spark, self._ingest_claim_path())
        if claim is None:
            return
        ledger = _committed_epochs(
            self.spark, os.path.join(self.index_path, _INGEST_LEDGER)
        )
        if claim["stream_epoch"] in ledger:
            from ..sources.fsutil import hadoop

            jvm, jp, fs = hadoop(self.spark, self._ingest_claim_path())
            fs.delete(jp, False)  # consumed claim: safe to sweep
            return
        raise ValueError(
            f"pending streaming ingest (stream epoch "
            f"{claim['stream_epoch']} -> codes epoch "
            f"{claim['codes_epoch']}) at {self.index_path}; restart the "
            "ingest stream to complete it before mutating the index "
            "manually."
        )

    def _codes_meta(self) -> dict:
        return read_json(
            self.spark, os.path.join(self.index_path, _CODES_META)
        ) or {"origins": {}}

    def _visible_epochs(self, marker: dict | None = None) -> list[int]:
        """Committed codes epochs a READ may union. A pending
        compaction whose NEW epoch committed makes every older epoch
        invisible immediately — cleanup may still be deleting them.
        ``marker`` lets callers that already read _compaction.json pass
        it in instead of re-reading (pass the module sentinel-free way:
        only pass it when you actually read it this call)."""
        done = _committed_epochs(self.spark, self._codes_path())
        if marker is None:
            marker = read_json(self.spark, self._marker_path())
        if marker is not None and marker["base_epoch"] in done:
            done = [e for e in done if e >= marker["base_epoch"]]
        return done

    def _origin(
        self,
        epoch: int,
        marker: dict | None = None,
        meta: dict | None = None,
    ) -> int:
        """The newest PRE-compaction epoch whose rows ``epoch`` may
        carry: itself for append epochs, the newest absorbed epoch for
        compacted ones (from _codes_meta, or the live marker during
        the post-rename window). Tombstones mask epochs by origin.
        ``marker``/``meta`` let codes() read the two small JSON files
        ONCE per call instead of once per visible epoch (round-10
        ADVICE: O(n_epochs) filesystem round-trips per search)."""
        if marker is None:
            marker = read_json(self.spark, self._marker_path())
        if marker is not None and marker["base_epoch"] == epoch:
            return int(marker["origin"])
        if meta is None:
            meta = self._codes_meta()
        return int(meta["origins"].get(str(epoch), epoch))

    def tombstones(self) -> DataFrame:
        done = _committed_epochs(self.spark, self._tombstones_path())
        if not done:
            return self.spark.createDataFrame([], _TOMB_SCHEMA)
        return self.spark.read.schema(_TOMB_SCHEMA).parquet(
            *[
                os.path.join(self._tombstones_path(), f"epoch={ep}")
                for ep in done
            ]
        )

    def codes(self) -> DataFrame:
        """The encoded corpus: every visible epoch's rows, minus
        tombstoned ids. With no tombstones this is the single
        multi-path scan the search plans were pinned on; with
        tombstones each epoch carries its origin as a literal and an
        anti-join drops (vec_id, origin <= asof) matches."""
        marker = read_json(self.spark, self._marker_path())
        done = self._visible_epochs(marker=marker)
        if not done:
            return self.spark.createDataFrame([], _CODES_SCHEMA)
        paths = [
            os.path.join(self._codes_path(), f"epoch={ep}") for ep in done
        ]
        tombs = _committed_epochs(self.spark, self._tombstones_path())
        if not tombs:
            return self.spark.read.schema(_CODES_SCHEMA).parquet(*paths)
        meta = self._codes_meta()
        parts = []
        for ep, p in zip(done, paths):
            parts.append(
                self.spark.read.schema(_CODES_SCHEMA)
                .parquet(p)
                .withColumn("_origin", F.lit(self._origin(ep, marker, meta)))
            )
        all_codes = parts[0]
        for part in parts[1:]:
            all_codes = all_codes.unionByName(part)
        t = self.tombstones()
        return all_codes.join(
            t.hint("broadcast"),
            (all_codes.vec_id == t.vec_id) & (all_codes["_origin"] <= t.asof),
            "left_anti",
        ).select("vec_id", "cluster", "codes")

    # -- encode / add ------------------------------------------------

    def _encode(self, vectors: DataFrame) -> DataFrame:
        """(vec_id, embedding) -> (vec_id, cluster, codes) under the
        SAVED quantizers: coarse assign via the engine's argmin (strict-<
        lowest-index tie-break), then PQ codes — zero shuffle. The PQ
        codes always run as plan-literal expressions; the coarse assign
        does so only up to core.assign's k*d <= 4096 threshold (any
        auto-cells index past ~sf10 routes through the Arrow NumPy
        kernel instead — same values, pinned in test_assign_*)."""
        from ..kmeans import core

        # vec_id pinned to bigint: a caller's int/short frame would
        # persist INT32 parquet that _CODES_SCHEMA's `vec_id bigint`
        # read refuses, bricking every later codes()/search (round-10
        # ADVICE — same pin in delete_ids for _TOMB_SCHEMA)
        feats = vectors.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("embedding").cast("array<float>").alias("features"),
        )
        assigned = core.assign(feats, self.centroids)
        return pq_encode(
            assigned,
            self.codebooks,
            vec_col="features",
            residual_centroids=self.centroids if self.by_residual else None,
        ).select("vec_id", "cluster", "codes")

    def add_batch(self, vectors: DataFrame) -> int:
        """Encode new vectors against the saved index and append them as
        the next committed epoch; returns the epoch id. vec_ids must be
        non-NULL, unique within the batch, and new to the index (all
        checked — a duplicate silently occupying two top_k slots would
        displace genuine neighbors in every later search); quantizers
        are NOT retrained (the FAISS add contract — re-index
        deliberately, not implicitly). A previously DELETED vec_id may
        be re-added: the new row lands in an epoch beyond every
        existing tombstone's reach (the origin rule)."""
        self._check_no_pending_ingest()
        self._complete_compaction()
        vectors = vectors.persist()  # 3 passes: validate, overlap, encode
        try:
            self._validate_new_batch(vectors)
            done = _committed_epochs(self.spark, self._codes_path())
            epoch = (done[-1] + 1) if done else 0
            self._encode(vectors).write.mode("overwrite").parquet(
                os.path.join(self._codes_path(), f"epoch={epoch}")
            )
            return epoch
        finally:
            vectors.unpersist()

    def _validate_new_batch(self, vectors: DataFrame, op: str = "add_batch") -> None:
        """The add contract checks shared by add_batch and the
        streaming ingest: non-NULL vec_ids, unique within the batch,
        and new to the index (a duplicate silently occupying two top_k
        slots would displace genuine neighbors in every later search).
        ``vectors`` should be persisted by the caller (2 passes)."""
        row = vectors.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("vec_id").alias("n_ids"),
            F.sum(F.col("vec_id").isNull().cast("int")).alias("n_null"),
        ).first()
        if row.n and row.n_null:
            raise ValueError(f"{op}: {row.n_null} row(s) with NULL vec_id")
        if row.n and row.n_ids != row.n:
            raise ValueError(
                f"{op}: duplicate vec_ids within the batch "
                f"({row.n} rows, {row.n_ids} distinct)"
            )
        dup = vectors.select(
            F.col("vec_id").cast("bigint").alias("vec_id")
        ).join(self.codes().select("vec_id"), "vec_id", "semi").count()
        if dup:
            raise ValueError(
                f"{op}: {dup} vec_id(s) already in the index at "
                f"{self.index_path}"
            )

    # -- delete / compact / rebuild (round 10) -------------------------

    def delete_ids(self, ids: DataFrame) -> int:
        """Remove ``ids`` (a frame with a vec_id column) from the index
        by appending a tombstone epoch; returns its epoch id. The
        tombstone records asof = the newest committed codes epoch, so
        it masks exactly the rows that exist NOW (origin <= asof) and
        never a later re-add. ids absent from the index are a loud
        error (a silent no-op delete hides caller bugs — FAISS
        remove_ids returns the count for the same reason)."""
        self._check_no_pending_ingest()
        self._complete_compaction()
        done = _committed_epochs(self.spark, self._codes_path())
        if not done:
            raise ValueError(f"delete_ids: no codes at {self.index_path}")
        targets = ids.select(
            F.col("vec_id").cast("bigint").alias("vec_id")
        ).distinct()
        n_null = targets.where(F.col("vec_id").isNull()).count()
        if n_null:
            raise ValueError("delete_ids: NULL vec_id identifies no row")
        n = targets.count()
        missing = targets.join(
            self.codes().select("vec_id"), "vec_id", "left_anti"
        ).count()
        if missing:
            raise ValueError(
                f"delete_ids: {missing} of {n} vec_id(s) not in the index "
                f"at {self.index_path} (already deleted, or never added)"
            )
        tombs = _committed_epochs(self.spark, self._tombstones_path())
        ep = (tombs[-1] + 1) if tombs else 0
        targets.withColumn(
            "asof", F.lit(int(done[-1])).cast("int")
        ).write.mode("overwrite").parquet(
            os.path.join(self._tombstones_path(), f"epoch={ep}")
        )
        return ep

    def compact_codes(self) -> int:
        """Fold every committed codes epoch and tombstone into ONE new
        epoch holding the current view, then remove what it absorbed —
        the answer to a thousand add_batch/delete_ids calls leaving a
        thousand small epochs. Returns the new epoch id (or the current
        one when there is nothing to fold). Values are pinned: codes()
        and every search are bit-identical before and after.

        Crash-safe: stage -> marker (put-if-absent; a racing compactor
        fails loudly) -> rename -> record origin -> cleanup -> drop
        marker. Every later mutation completes a dead compactor's
        pending marker first, and reads are correct in every window
        (see _visible_epochs / _origin)."""
        import uuid

        from ..sources.fsutil import hadoop
        from ..sources.table import _put_if_absent_json

        self._check_no_pending_ingest()
        self._complete_compaction()
        done = _committed_epochs(self.spark, self._codes_path())
        if not done:
            raise ValueError(f"compact_codes: no codes at {self.index_path}")
        tombs = _committed_epochs(self.spark, self._tombstones_path())
        if len(done) == 1 and not tombs:
            return done[-1]
        token = uuid.uuid4().hex
        staged = os.path.join(self._codes_path(), "_staged", token)
        self.codes().write.mode("overwrite").parquet(staged)
        marker = {
            "base_epoch": done[-1] + 1,
            "origin": done[-1],
            "staged": token,
            "absorbed_codes": done,
            "absorbed_tombstones": tombs,
        }
        if not _put_if_absent_json(self.spark, self._marker_path(), marker):
            jvm, _, fs = hadoop(self.spark, staged)
            fs.delete(jvm.org.apache.hadoop.fs.Path(staged), True)
            raise ValueError(
                f"compact_codes: another compaction is pending at "
                f"{self.index_path}; complete it first (any mutation "
                "entry does) and re-run"
            )
        self._complete_compaction()
        return marker["base_epoch"]

    def _complete_compaction(self) -> None:
        """Finish a pending compaction deterministically (idempotent;
        every crash window resolves): rename the staged fold in if the
        marker's epoch is not committed, record the epoch's origin,
        delete the absorbed codes/tombstone epochs, drop the marker. A
        marker whose staged dir vanished without committing is torn —
        dropped, the compaction simply never happened."""
        from ..sources.fsutil import hadoop, write_json

        marker = read_json(self.spark, self._marker_path())
        if marker is None:
            self.gc_staged()
            return
        jvm, _, fs = hadoop(self.spark, self.index_path)

        def _rm(path: str) -> None:
            fs.delete(jvm.org.apache.hadoop.fs.Path(path), True)

        ep = marker["base_epoch"]
        done = _committed_epochs(self.spark, self._codes_path())
        ep_dir = os.path.join(self._codes_path(), f"epoch={ep}")
        if ep not in done:
            staged = os.path.join(
                self._codes_path(), "_staged", marker["staged"]
            )
            if not fs.exists(jvm.org.apache.hadoop.fs.Path(staged)):
                _rm(self._marker_path())  # torn: never committed
                return
            _rm(ep_dir)  # a dead compactor's partial rename target
            if not fs.rename(
                jvm.org.apache.hadoop.fs.Path(staged),
                jvm.org.apache.hadoop.fs.Path(ep_dir),
            ):
                raise IOError(
                    f"compact_codes: rename of staged fold {staged} failed"
                )
        meta = self._codes_meta()
        origins = {
            k: v
            for k, v in meta["origins"].items()
            if int(k) not in set(marker["absorbed_codes"])
        }
        origins[str(ep)] = int(marker["origin"])
        write_json(
            self.spark,
            os.path.join(self.index_path, _CODES_META),
            {"origins": origins},
        )
        for old in marker["absorbed_codes"]:
            _rm(os.path.join(self._codes_path(), f"epoch={old}"))
        for old in marker["absorbed_tombstones"]:
            _rm(os.path.join(self._tombstones_path(), f"epoch={old}"))
        _rm(os.path.join(self._codes_path(), "_staged", marker["staged"]))
        _rm(self._marker_path())
        self.gc_staged()

    def gc_staged(self, ttl_hours: float = 24.0) -> list[str]:
        """Sweep ORPHAN ``codes/_staged/<token>`` dirs: a compactor
        that died between staging its fold and winning the marker
        put-if-absent leaves a complete-or-partial snapshot of the full
        codes set that nothing references — repeated crashes would leak
        one dead snapshot each (round-10 ADVICE; table._gc_staged's
        analog for the index layout). Two guards keep live work safe:
        the dir named by a live marker is recovery material and never
        touched, and anything younger than ``ttl_hours`` is presumed a
        compactor mid-staging (impossible from a mutation path under
        the single-maintainer contract, but the TTL keeps the sweep
        safe even when that contract is bent). Runs automatically at
        the end of every _complete_compaction; callable directly with a
        shorter TTL for explicit maintenance. Returns deleted paths."""
        from ..sources.fsutil import hadoop

        staged_root = os.path.join(self._codes_path(), "_staged")
        jvm, jroot, fs = hadoop(self.spark, staged_root)
        if not fs.exists(jroot):
            return []
        marker = read_json(self.spark, self._marker_path())
        live = marker["staged"] if marker is not None else None
        now = jvm.java.lang.System.currentTimeMillis()
        deleted: list[str] = []
        for st in fs.listStatus(jroot):
            token = st.getPath().getName()
            if token == live:
                continue
            if now - st.getModificationTime() < ttl_hours * 3_600_000:
                continue
            fs.delete(st.getPath(), True)
            deleted.append(os.path.join(staged_root, token))
        return deleted

    def rebuild(self, vectors: DataFrame, new_index_path: str) -> "AnnIndex":
        """Re-train quantizers on ``vectors`` (the caller's current
        corpus — the index stores codes, not raw vectors) with THIS
        index's geometry, into a fresh path: the re-index policy
        operator the frozen-quantizer contract defers to. Swap paths in
        the caller when the new index is verified; the old index stays
        serving until then (the FAISS re-train discipline)."""
        return build_ann_index(
            vectors,
            new_index_path,
            n_cells=self.n_cells,
            m=self.m,
            k_codes=self.k_codes,
            by_residual=self.by_residual,
            train_sample=self.train_sample,
        )

    def quantization_error(
        self, vectors: DataFrame, sample: int = 2048
    ) -> float:
        """Mean squared PQ reconstruction error of a content-hash-
        ordered sample of ``vectors`` under the SAVED quantizers — the
        drift signal for the re-index policy. Deterministic: same
        sample recipe as codebook training, NumPy first-min argmins."""
        return _pq_sample_error(
            vectors,
            self.centroids,
            self.codebooks,
            by_residual=self.by_residual,
            sample=sample,
        )

    def drift_ratio(self, vectors: DataFrame, sample: int = 2048) -> float:
        """quantization_error(vectors) / the train_error frozen in the
        meta at build time. ~1.0 = the corpus still looks like the
        training distribution; grows as adds drift away — rebuild when
        it crosses the caller's threshold."""
        train = self.meta_train_error
        if train is None:
            raise ValueError(
                f"index at {self.index_path} predates train_error "
                "recording; rebuild once to enable drift_ratio"
            )
        return self.quantization_error(vectors, sample=sample) / train

    # -- search ------------------------------------------------------

    def _searchable_codes(self, keep: DataFrame | None) -> DataFrame:
        """The codes frame a search scans: everything, or — FILTERED
        search (round 10; the retrieval-with-an-allow-list shape:
        per-tenant corpora, license filters, eval holdouts) — only the
        vec_ids in ``keep``, applied as a pre-scoring semi-join so the
        top_k is exact over the allowed set (post-filtering results
        would silently return < k and leak ranking slots to excluded
        vectors)."""
        codes = self.codes()
        if keep is None:
            return codes
        return codes.join(keep.select("vec_id").distinct(), "vec_id", "semi")

    def search(
        self,
        queries: DataFrame,
        *,
        n_probe: int = 2,
        top_k: int = 10,
        keep: DataFrame | None = None,
        max_queries: int = 8192,
    ) -> DataFrame:
        """Top-k ADC neighbors per query row (query_id|vec_id,
        embedding). Same code path as the golden-pinned s04/s05 search
        (pq.search_encoded) over the persisted codes. ``keep`` (a frame
        with a vec_id column) restricts the searched corpus — see
        _searchable_codes.

        SERVING path: the query batch is collected to the driver, so
        ``max_queries`` (default 8192) guards the cliff — a table-sized
        frame raises toward ``search_join`` (the distributed kNN-join
        twin, bit-equal results) instead of OOMing the driver. The
        probe is a limit(n+1) collect: the guard itself never pulls
        more than max_queries+1 rows."""
        idc = "query_id" if "query_id" in queries.columns else "vec_id"
        rows = (
            queries.select(idc, "embedding").limit(max_queries + 1).collect()
        )
        if len(rows) > max_queries:
            raise ValueError(
                f"AnnIndex.search: query batch exceeds max_queries="
                f"{max_queries} — the serving path collects queries to "
                "the driver. Use search_join (distributed, bit-equal "
                "results) for table-sized batches, or raise max_queries "
                "deliberately."
            )
        # driver-side key sort == the previous orderBy(idc) collect
        # (the probe's limit forbids a pre-collect orderBy)
        qvecs = sorted(
            ((int(r[0]), [float(v) for v in r[1]]) for r in rows),
            key=lambda t: t[0],
        )
        return search_encoded(
            self._searchable_codes(keep),
            self.centroids,
            self.codebooks,
            qvecs,
            n_probe=n_probe,
            top_k=top_k,
            by_residual=self.by_residual,
        )

    def search_join(
        self,
        queries: DataFrame,
        *,
        n_probe: int = 2,
        top_k: int = 10,
        salt: int | None = None,
        keep: DataFrame | None = None,
    ) -> DataFrame:
        """DISTRIBUTED batch search — the table-scale kNN-JOIN path
        (dedup-vs-index, retrieval eval over a whole embeddings table):
        queries stay a DataFrame end-to-end. Per-query coarse
        assignment is computed EXECUTOR-side in an Arrow ``mapInPandas``
        kernel; the probe rows carry the (residualized) float64 QUERY
        VECTOR (round 12 — previously the m x k_codes ADC LUT, ~16x
        bigger; the cogroup kernel now builds the LUT after the
        shuffle with the identical per-element float64 sequence, so
        results stay bit-equal to ``search`` — pinned in tests and by
        the s07/s09 registry entries). No driver collect of the query
        table anywhere.

        The join is 2D-salted per cell (pq._adc_topk_qq): probes
        partition into ``qs`` query slices, codes into ``cs`` candidate
        slices, giving qs x cs cogroups per cell — distributed GEMM
        blocking. By default the per-cell (qs, cs) PLAN is
        DATA-DEPENDENT (round 12, the skewed-batch fix): cell sizes
        come from an exact census of the searchable codes, per-cell
        probe counts from a deterministic hash sample of the queries
        (exact when the batch is <= the sample cap), and each cell is
        split so no cogroup exceeds ~4k probe rows x ~4k candidates
        while the total group count keeps ~4x-parallelism headroom. A
        query batch concentrated on a handful of hot cells — which the
        round-11 static salt served as ONE giant cogroup per cell —
        now fans exactly those cells out by query hash, replicating
        only the tiny codes rows. ``salt=S`` overrides with the legacy
        uniform shape (qs=1, cs=S — the pinned salt-invariance
        surface); values are identical under every setting.

        Scale: probe rows are queries x n_probe x (8 + 4 + 8d) bytes
        (~528 B at d=64), shuffled cs times; the codes side reads
        (vec_id, cluster, codes) only (~40 B/row), shuffled qs times —
        the heavy side of the old LUT fan-out is gone. Both the probe
        kernel and the ADC scorer (pq._adc_score_cogroup_qq) accumulate
        float64 elementwise adds left-to-right (dim-by-dim, then
        subspace-by-subspace) — the exact IEEE sequence of the serving
        path's _sqd / _adc_expr chain; NumPy *reductions* (``.sum()``,
        ``dot``) are deliberately never used (pairwise summation would
        shift ulps across the 1e-4 floor)."""
        from .pq import _adc_topk_qq

        idc = "query_id" if "query_id" in queries.columns else "vec_id"
        centroids = self.centroids
        books = self.codebooks
        by_residual = self.by_residual
        n_probe_eff = min(n_probe, len(centroids))

        def _probes(batches):
            import numpy as np
            import pandas as pd

            C = np.array(centroids, dtype=np.float64)  # (n_cells, d)
            d = C.shape[1]
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Q = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                qids = pdf[idc].to_numpy().astype(np.int64)
                nq = Q.shape[0]
                # coarse distances, accumulated dim-by-dim (the _sqd
                # left-to-right order, vectorized over (query, cell))
                d2 = np.zeros((nq, C.shape[0]), dtype=np.float64)
                for i in range(d):
                    d2 += (Q[:, i : i + 1] - C[None, :, i]) ** 2
                # n_probe nearest cells, ties to the lowest cell index
                cell_ids = np.broadcast_to(np.arange(C.shape[0]), d2.shape)
                probed = np.lexsort((cell_ids, d2), axis=-1)[:, :n_probe_eff]
                cells = probed.ravel()  # (nq * n_probe,)
                QQ = np.repeat(Q, n_probe_eff, axis=0)
                if by_residual:
                    QQ = QQ - C[cells]
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(qids, n_probe_eff),
                        "cell": cells.astype(np.int32),
                        "qq": [row.tolist() for row in QQ],
                    }
                )

        # embedding passes through UNCAST: `search` collects the raw
        # column, and bit-equality requires both paths to widen the same
        # physical values
        probes = queries.select(idc, "embedding").mapInPandas(
            _probes, "query_id long, cell int, qq array<double>"
        )
        codes = self._searchable_codes(keep)
        if salt is not None:
            return _adc_topk_qq(codes, probes, books, top_k, salt=int(salt))
        counts = self._probe_cell_counts(queries, idc, n_probe_eff)
        if counts is None:
            # small batch (<= _PLAN_MIN_QUERIES): the census + assign
            # planning passes cost more than they save — the legacy
            # uniform salt already bounds every cogroup (any one cell
            # sees at most _PLAN_MIN_QUERIES <= _Q_CAP probe rows), so
            # serving-adjacent batches pay ONE cheap limit-capped count
            # and nothing else (round-12 ADVICE)
            return _adc_topk_qq(
                codes,
                probes,
                books,
                top_k,
                salt=_auto_salt(
                    self.spark.sparkContext.defaultParallelism,
                    len(self.centroids),
                ),
            )
        sizes = {
            int(r["cluster"]): int(r["n"])
            for r in codes.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        plan = _plan_salts(
            sizes, counts, self.spark.sparkContext.defaultParallelism
        )
        return _adc_topk_qq(codes, probes, books, top_k, plan=plan)

    def _probe_cell_counts(
        self, queries: DataFrame, idc: str, n_probe_eff: int
    ) -> dict[int, int] | None:
        """Estimated probe rows per coarse cell for the search_join
        planner — NEVER a full pass over the query table (round-12
        verdict: the exact ``queries.count()`` was the planner's one
        unbounded step). A ``limit(_COUNT_SAMPLE_CAP + 1).count()``
        classifies the batch:

        - <= _PLAN_MIN_QUERIES: returns None — the caller skips
          planning entirely (legacy uniform salt);
        - <= _COUNT_SAMPLE_CAP: exact counts over the whole batch;
        - larger: a deterministic fixed-rate query-id-hash sample
          (1/_PLAN_SAMPLE_RATE of the batch) scaled back up — the rate
          no longer needs the batch size, so the full count job is
          gone; the planner's assign pass is ~n/256 rows vs the join's
          n * n_probe probe rows.

        A COST signal only — a misestimate makes a group bigger or
        smaller, never wrong: the plan's cell list comes from the codes
        census, so every non-empty cell is covered regardless. The
        collect is bounded by n_cells."""
        capped = queries.limit(_COUNT_SAMPLE_CAP + 1).count()
        if capped <= _PLAN_MIN_QUERIES:
            return None
        if capped <= _COUNT_SAMPLE_CAP:
            rate = 1
            sample = queries
        else:
            rate = _PLAN_SAMPLE_RATE
            sample = queries.where(
                F.pmod(F.xxhash64(F.col(idc)), F.lit(rate)) == 0
            )
        centroids = self.centroids

        def _cells(batches):
            import numpy as np
            import pandas as pd

            C = np.array(centroids, dtype=np.float64)
            d = C.shape[1]
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Q = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                d2 = np.zeros((len(Q), C.shape[0]), dtype=np.float64)
                for i in range(d):
                    d2 += (Q[:, i : i + 1] - C[None, :, i]) ** 2
                cell_ids = np.broadcast_to(np.arange(C.shape[0]), d2.shape)
                probed = np.lexsort((cell_ids, d2), axis=-1)[:, :n_probe_eff]
                vals, cnt = np.unique(probed.ravel(), return_counts=True)
                yield pd.DataFrame(
                    {
                        "cell": vals.astype(np.int32),
                        "n": cnt.astype(np.int64),
                    }
                )

        rows = (
            sample.select("embedding")
            .mapInPandas(_cells, "cell int, n long")
            .groupBy("cell")
            .agg(F.sum("n").alias("n"))
            .collect()
        )
        return {int(r["cell"]): int(r["n"]) * rate for r in rows}


def _s07_base(
    spark: SparkSession, sf_dir: str, base_path: str | None, tag: str
) -> str:
    """Per-process scratch path for the parity entries' throwaway
    index, rebuilt each call; a non-empty dir that does not look like
    an ANN-index layout is refused rather than cleared."""
    from ..sources.fsutil import hadoop

    import hashlib
    import tempfile

    base = base_path or os.path.join(
        tempfile.gettempdir(),
        "spark_graft_{}_{}_{}".format(
            tag, hashlib.md5(sf_dir.encode()).hexdigest()[:8], os.getpid()
        ),
    )
    jvm, jbase, fs = hadoop(spark, base)
    if fs.exists(jbase):
        allowed = (
            "_ann_meta.json", "codes", "tombstones", "_claims", "_staged",
            "_codes_meta.json", "_compaction.json",
        )
        foreign = [
            st.getPath().getName()
            for st in fs.listStatus(jbase)
            if not st.getPath().getName().startswith(allowed)
        ]
        if foreign:
            raise ValueError(
                f"{tag} parity entry: base_path {base!r} holds non-index "
                f"content (unexpected: {foreign[:5]}); refusing to clear "
                "it. Pass an empty or dedicated directory."
            )
        fs.delete(jbase, True)
    return base


def s07_ann_search_join_parity(
    spark: SparkSession, sf_dir: str, base_path: str | None = None
) -> DataFrame:
    """Registry entry gating the DISTRIBUTED ANN path: build a fresh
    persisted index over the sf's embeddings corpus (vec_id >= 5; the
    s03/s04 query/corpus split), run the driver-side serving ``search``
    AND the executor-side ``search_join`` over the same 5 queries, and
    emit one row — (searches_equal, n_results) — where equality is
    BIT-FOR-BIT over (query_id, vec_id, adc, rk). Both paths produce
    5 x top_k(10) = 50 rows at every sf, so the oracle is a literal.

    The index materializes under ``base_path`` (default: a per-process
    tmp dir), rebuilt each call; a non-empty dir that does not look
    like an ANN-index layout is refused rather than cleared."""
    from ..sources.readers import load_table

    base = _s07_base(spark, sf_dir, base_path, tag="s07")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = build_ann_index(e.where(F.col("vec_id") >= 5), base, n_cells=8)
    queries = e.where(F.col("vec_id") < 5)
    serving = sorted(map(tuple, idx.search(queries, n_probe=2, top_k=10).collect()))
    joined = sorted(
        map(tuple, idx.search_join(queries, n_probe=2, top_k=10).collect())
    )
    return spark.createDataFrame(
        [(int(serving == joined and len(serving) > 0), len(joined))],
        "searches_equal bigint, n_results bigint",
    )


S07_SQL = """
SELECT CAST(1 AS BIGINT) AS searches_equal, CAST(50 AS BIGINT) AS n_results
"""


def s08_ann_filtered_search_parity(
    spark: SparkSession, sf_dir: str, base_path: str | None = None
) -> DataFrame:
    """Registry entry gating FILTERED ANN search (the allow-list /
    per-tenant / license-filter retrieval shape): build a fresh
    persisted index over the sf's embeddings corpus, restrict the
    searchable set to the ODD vec_ids via ``keep``, run the serving
    ``search`` AND the distributed ``search_join`` under the same
    filter, and emit one row — (searches_equal, n_results, all_kept):
    both paths bit-equal, 5 x top_k(10) rows at every sf, and every
    returned neighbor inside the allow-list (the pre-scoring semi-join
    guarantee; post-filtering would leak excluded vectors' ranking
    slots). Literal oracle; same s07 base-path discipline."""
    from ..sources.readers import load_table

    base = _s07_base(spark, sf_dir, base_path, tag="s08")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = build_ann_index(e.where(F.col("vec_id") >= 5), base, n_cells=8)
    queries = e.where(F.col("vec_id") < 5)
    keep = e.where((F.col("vec_id") >= 5) & (F.col("vec_id") % 2 == 1)).select(
        "vec_id"
    )
    serving = sorted(
        map(tuple, idx.search(queries, n_probe=2, top_k=10, keep=keep).collect())
    )
    joined = sorted(
        map(
            tuple,
            idx.search_join(queries, n_probe=2, top_k=10, keep=keep).collect(),
        )
    )
    all_kept = all(r[1] % 2 == 1 for r in joined)
    return spark.createDataFrame(
        [
            (
                int(serving == joined and len(serving) > 0),
                len(joined),
                int(all_kept),
            )
        ],
        "searches_equal bigint, n_results bigint, all_kept bigint",
    )


S08_SQL = """
SELECT CAST(1 AS BIGINT) AS searches_equal,
       CAST(50 AS BIGINT) AS n_results,
       CAST(1 AS BIGINT) AS all_kept
"""


def s09_ann_sampled_build_parity(
    spark: SparkSession, sf_dir: str, base_path: str | None = None
) -> DataFrame:
    """Registry entry gating the SAMPLE-TRAINED coarse quantizer
    (``build_ann_index(train_sample=...)`` — round 12; at sf100 the
    full-corpus coarse Lloyd cost 283 s vs 132.7 s for the 2M x 2M
    join itself, so one decade up the exact training dominates the
    build). Builds an EXACT index and a SAMPLED one (train_sample=64 —
    genuinely smaller than every sf's corpus, so the sample path really
    executes) at the same geometry over the sf's embeddings corpus
    (vec_id >= 5, the s03/s07 split), then emits one row:

    - ``searches_equal``: serving ``search`` == distributed
      ``search_join`` BIT-FOR-BIT on the sampled index (the s07
      guarantee must survive sampled centroids);
    - ``n_results``: 5 queries x top_k(10) = 50 at every sf;
    - ``recall_band_ok``: mean top-10 overlap of the sampled build's
      results vs the exact build's >= 0.15 — the pinned quality band
      (measured 0.26-0.46 across sf0.001/0.01/0.1 at both 64- and
      256-vector samples; ground-truth recall is PQ-bound (m=4), and
      sampled builds measured AT-or-ABOVE the exact build against
      brute force, so the band guards against a sampling regression,
      not against PQ loss).

    Literal oracle; same throwaway base-path discipline as s07."""
    from ..sources.readers import load_table

    base_x = _s07_base(spark, sf_dir, base_path and base_path + "/x", tag="s09x")
    base_s = _s07_base(spark, sf_dir, base_path and base_path + "/s", tag="s09s")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = e.where(F.col("vec_id") >= 5)
    queries = e.where(F.col("vec_id") < 5)
    exact = build_ann_index(corpus, base_x, n_cells=8)
    sampled = build_ann_index(corpus, base_s, n_cells=8, train_sample=64)
    serving = sorted(
        map(tuple, sampled.search(queries, n_probe=2, top_k=10).collect())
    )
    joined = sorted(
        map(tuple, sampled.search_join(queries, n_probe=2, top_k=10).collect())
    )
    ex = exact.search(queries, n_probe=2, top_k=10).collect()

    def _tops(rows):
        d: dict[int, set] = {}
        for r in rows:
            d.setdefault(r[0], set()).add(r[1])
        return d

    te, ts = _tops(ex), _tops(joined)
    # ts.get: a query CAN come back empty from the sampled index (both
    # probed cells empty under sampled centroids at n_cells=8 on a tiny
    # corpus) — that's 0 recall for the band, not a KeyError
    recall = sum(
        len(te[q] & ts.get(q, set())) / len(te[q]) for q in te
    ) / len(te)
    return spark.createDataFrame(
        [
            (
                int(serving == joined and len(serving) > 0),
                len(joined),
                int(recall >= 0.15),
            )
        ],
        "searches_equal bigint, n_results bigint, recall_band_ok bigint",
    )


S09_SQL = """
SELECT CAST(1 AS BIGINT) AS searches_equal,
       CAST(50 AS BIGINT) AS n_results,
       CAST(1 AS BIGINT) AS recall_band_ok
"""


def _pq_sample_error(
    vectors: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    *,
    by_residual: bool,
    sample: int,
    rows: list | None = None,
) -> float:
    """Mean squared PQ reconstruction error over the content-hash-
    ordered sample (the train_pq_codebooks recipe, so build-time and
    drift-time samples are drawn identically). A QUALITY metric, not a
    golden-pinned value — plain NumPy reductions are fine here.
    ``rows`` lets build_ann_index pass the sample it already collected
    for codebook training (identical recipe) instead of paying a
    second TakeOrdered pass over the corpus."""
    import numpy as np

    if rows is None:
        rows = (
            vectors.select("vec_id", "embedding")
            .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            .limit(sample)
            .collect()
        )
    if not rows:
        raise ValueError("quantization_error: empty vector sample")
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    C = np.array(centroids, dtype=np.float64)
    a = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    if by_residual:
        X = X - C[a]
    B = np.array(books, dtype=np.float64)  # (m, k, dsub)
    m, _k, dsub = B.shape
    S = X.reshape(len(X), m, dsub)
    d2 = ((S[:, :, None, :] - B[None, :, :, :]) ** 2).sum(axis=3)
    return float(d2.min(axis=2).sum(axis=1).mean())


def _auto_salt(parallelism: int, n_cells: int) -> int:
    """The round-11 STATIC salt rule: ceil(4 * parallelism / n_cells)
    clamped to [1, parallelism] — enough (cell, salt) groups to
    oversubscribe every slot ~4x without scaling cost with the box
    (the sf100 incident: ``salt = parallelism`` fanned ~77 GB of LUT
    rows). Round 12 superseded it as search_join's default with the
    per-cell DATA-DEPENDENT plan (``_plan_salts``) — a static rule
    cannot see a query batch concentrated on a few hot cells — but the
    function remains the reference point the plan's headroom floor
    reproduces for uniform batches, and the uniform ``salt=`` override
    still exists for the pinned salt-invariance surface."""
    if n_cells < 1:
        raise ValueError("n_cells must be >= 1")
    par = max(1, int(parallelism))
    return max(1, min(par, -(-4 * par // n_cells)))


# search_join planner bounds: per-cogroup caps keep the scorer's
# (Q_g x N_g) float64 accumulator <= ~128 MB and its per-group LUT
# (Q_g x m x k_codes doubles) <= ~32 MB at the default geometry.
# _PLAN_MIN_QUERIES (= _Q_CAP: even a batch concentrated on ONE cell
# stays under the cogroup cap) gates the planning passes off for small
# batches; _COUNT_SAMPLE_CAP bounds the limit-capped classification
# count and the exact-counts regime; _PLAN_SAMPLE_RATE is the fixed
# hash-sample rate above it (rate no longer derived from a full count).
_Q_CAP = 4096
_N_CAP = 4096
_PLAN_MIN_QUERIES = 4096
_COUNT_SAMPLE_CAP = 65536
_PLAN_SAMPLE_RATE = 256


def _plan_salts(
    cell_sizes: dict[int, int],
    probe_counts: dict[int, int],
    parallelism: int,
) -> list[tuple[int, int, int]]:
    """The per-cell (qs, cs) split plan for _adc_topk_qq, from the
    exact codes census (``cell_sizes``) and the measured/estimated
    probe counts. Three forces, in order:

    1. caps: qs = ceil(Q_c / _Q_CAP) and cs = ceil(N_c / _N_CAP) bound
       every cogroup's memory — the skewed-batch fix: 100k probes on
       one cell split into ~25 query slices instead of one giant group;
    2. headroom: probed cells should yield ~4x-parallelism groups
       total (the _auto_salt rule, spread across cells); grow qs first
       — extra qs replicates the ~40 B codes rows, extra cs replicates
       the ~528 B probe rows;
    3. never split beyond the data: qs <= Q_c, cs <= N_c.

    A uniform batch over many cells reproduces the round-11 static
    default (qs = cs = 1 when cells >= slots); cells the probe sample
    missed get qs=1 with the size-based cs — a cost misestimate only,
    never a correctness one (the plan covers every non-empty cell by
    construction)."""
    par = max(1, int(parallelism))
    probed = sum(1 for c in cell_sizes if probe_counts.get(c, 0) > 0)
    need = -(-4 * par // max(1, probed))
    plan = []
    for c in sorted(cell_sizes):
        n_c = int(cell_sizes[c])
        q_c = int(probe_counts.get(c, 0))
        qs = max(1, -(-q_c // _Q_CAP))
        cs = max(1, min(n_c, -(-n_c // _N_CAP)))
        if q_c and qs * cs < need:
            qs = min(max(qs, -(-need // cs)), max(1, q_c))
            if qs * cs < need:
                cs = min(max(cs, -(-need // qs)), max(1, n_c))
        plan.append((int(c), int(qs), int(cs)))
    return plan


def auto_n_cells(n_vectors: int) -> int:
    """The FAISS sizing rule of thumb: ~sqrt(n) coarse cells, so the
    per-query candidate set (n_probe/n_cells of the corpus) stays
    ~n_probe*sqrt(n) instead of growing linearly — the knob that keeps
    search_join's per-query cost flat as the corpus scales (SCALE.md
    measured the fixed-8-cells wall at sf10). Clamped to [8, 65536];
    deterministic — a pure function of the count."""
    import math

    return max(8, min(65536, int(round(math.sqrt(max(1, n_vectors))))))


def build_ann_index(
    vectors: DataFrame,
    index_path: str,
    *,
    n_cells: int | str = 8,
    m: int = _M_SUB,
    k_codes: int = _K_CODES,
    by_residual: bool = False,
    sample: int = 2048,
    train_sample: int | str | None = None,
) -> AnnIndex:
    """Train coarse + PQ quantizers on ``vectors`` (vec_id, embedding),
    encode them as codes epoch 0, and persist everything under
    ``index_path``. The meta write is the commit (last, atomic): a
    crashed build leaves no loadable index and is cleanly re-runnable.
    ``n_cells="auto"`` sizes the coarse quantizer ~sqrt(corpus) (see
    auto_n_cells) — the scale default; the resolved count persists in
    the meta like any explicit one.

    ``train_sample`` bounds the COARSE quantizer's training set (round
    12 — the sf100 rehearsal measured the full-corpus Lloyd at 283 s
    vs 132.7 s for the 2M x 2M join itself; one decade up it dominates
    everything). ``None`` (default) keeps the exact full-corpus
    training, so every existing golden stands; ``"auto"`` uses FAISS's
    rule of ~256 vectors per cell (faiss clustering.cpp
    max_points_per_centroid); an int is the explicit sample size. The
    sample is the md5-content-hash-ordered prefix — the SAME
    deterministic recipe as ``quantization_error`` and PQ codebook
    training, so a re-run reproduces the index bit-for-bit. PQ
    codebooks already train on a bounded sample (``sample=``); the
    encode pass over the full corpus is unchanged — sampling changes
    WHERE the cell boundaries sit, never which vectors are indexed.
    The resolved size persists in the meta (``rebuild`` reuses it)."""
    from ..kmeans import core

    spark = vectors.sparkSession
    if read_json(spark, os.path.join(index_path, _META)) is not None:
        raise ValueError(f"ANN index already exists at {index_path}")
    feats = vectors.select(
        "vec_id", F.col("embedding").cast("array<float>").alias("features")
    )
    if n_cells == "auto":
        n_cells = auto_n_cells(feats.count())
    n_cells = int(n_cells)
    # ONE TakeOrdered pass collects the md5-content-hash-ordered sample
    # shared by PQ codebook training and the train_error metric (they
    # used to each run the identical query — two corpus scans), and its
    # first row supplies d (previously a third pass via first())
    pq_sample = (
        vectors.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(sample)
        .collect()
    )
    if not pq_sample:
        raise ValueError("build_ann_index: empty vectors frame")
    d = len(pq_sample[0]["embedding"])
    if d % m:
        raise ValueError(f"d={d} not divisible by m={m}")
    if train_sample == "auto":
        train_sample = 256 * n_cells
    if train_sample is not None:
        train_sample = int(train_sample)
        if train_sample < n_cells:
            raise ValueError(
                f"train_sample={train_sample} < n_cells={n_cells}: the "
                "coarse quantizer needs at least one vector per cell"
            )
        # one sort+limit job materializes the sample; persist so the
        # Lloyd iterations re-read the cached rows, not the corpus.
        # REPARTITION first (round-12 sf1000 incident): a global
        # limit() lands its output in ONE partition, and persisting
        # that would run every Lloyd iteration's assign — the
        # sample x n_cells x d distance work — on a single core
        par = feats.sparkSession.sparkContext.defaultParallelism
        train_feats = (
            feats.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            .limit(train_sample)
            .repartition(max(2, par))
            .persist()
        )
    else:
        train_feats = feats
    try:
        # deterministic coarse quantizer: the s03 recipe (injected
        # lowest-vec_id init, compat-mode Lloyd) over the training set
        init = [
            [float(v) for v in r["features"]]
            for r in train_feats.orderBy("vec_id").limit(n_cells).collect()
        ]
        if len(init) < n_cells:
            raise ValueError(f"{len(init)} vectors < n_cells={n_cells}")
        res = core.lloyd(
            train_feats,
            core.KMeansParams(
                k=n_cells, thresh=1e-2, max_loop=4, mode="compat"
            ),
            init_centroids=init,
        )
    finally:
        if train_feats is not feats:
            train_feats.unpersist()
    centroids = res.centroids
    books = train_pq_codebooks(
        spark,
        "",  # unused: embeddings frame supplied directly
        m=m,
        k_codes=k_codes,
        d=d,
        sample=sample,
        residual_centroids=centroids if by_residual else None,
        embeddings=vectors,
        sample_rows=pq_sample,
    )
    meta = {
        "n_cells": n_cells,
        "m": m,
        "k_codes": k_codes,
        "d": d,
        "by_residual": by_residual,
        "train_sample": train_sample,
        "centroids": [[float(v) for v in c] for c in centroids],
        "codebooks": books,
        # the drift_ratio denominator: reconstruction error on the
        # build corpus's own sample, frozen with the quantizers
        "train_error": _pq_sample_error(
            vectors,
            [[float(v) for v in c] for c in centroids],
            books,
            by_residual=by_residual,
            sample=sample,
            rows=pq_sample,
        ),
    }
    idx = AnnIndex(spark, index_path, meta)
    idx._encode(vectors).write.mode("overwrite").parquet(
        os.path.join(index_path, "codes", "epoch=0")
    )
    write_json(spark, os.path.join(index_path, _META), meta)
    return idx
