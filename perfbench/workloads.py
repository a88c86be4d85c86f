"""The two workloads. Each one is a closed loop with one client: the next
operation starts only after the previous one returned.

``migration``: the paper's job. One operation applies the migration to one
seeded batch of share owners, read from the current snapshot of a
``share_type``-partitioned versioned table: ``run_migration`` with a create
sink, a merge-on-read ``merge_into`` of the updated rows, the audit and
dead-letter sinks, and a seeded ``delete_where``. Traced runs then let the
derived stores (key index, zone map) fold the run's commits, read the change
feed back, and run a dry run over the whole input.

``serve``: read-only probes against standing fixtures built at set-up —
BM25 text index, IVF-PQ index, LSH index, key-index point lookup and a
pruned ``cbxtable`` DataSource scan. One operation is a round of one probe
of each kind in a seeded order. Traced runs also build and pack the
pretraining corpus from the same generated documents.

Every call into an engine layer goes through ``tracer.span`` so the traced
run can attribute time, jobs and task metrics to it.
"""

from __future__ import annotations

import hashlib
import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.parquet as pq

import gen

HOME_PREFIX = "/eos/"
N_BUCKETS = 8  # text and LSH index buckets, IVF-PQ cells
CREATED_INODE_OFFSET = 30_000_000


def _generate(tracer, make, work: str, prefix: str, repeats: int = 3):
    """Run the input generator ``make(out_dir)`` ``repeats`` times into
    separate directories; every repeat must write byte-identical files (the
    generator is a pure function of the seed). Returns the first result and
    every repeat's time."""
    times, results, digests = [], [], set()
    for r in range(repeats):
        out = os.path.join(work, f"{prefix}{r}")
        t0 = time.perf_counter()
        with tracer.span("gen.inputs"):
            results.append(make(out))
        times.append(time.perf_counter() - t0)
        h = hashlib.sha256()
        for name in sorted(os.listdir(out)):
            with open(os.path.join(out, name), "rb") as fh:
                h.update(name.encode() + fh.read())
        digests.add(h.hexdigest())
    if len(digests) != 1:
        raise RuntimeError("input generator is not deterministic for one seed")
    return results[0], times


def dir_bytes(*roots: str) -> int:
    """Allocated bytes under ``roots``, each hard-linked file counted once."""
    seen, total = set(), 0
    for root in roots:
        for dp, _, files in os.walk(root):
            for f in files:
                try:
                    st = os.lstat(os.path.join(dp, f))
                except FileNotFoundError:
                    continue
                if (st.st_dev, st.st_ino) not in seen:
                    seen.add((st.st_dev, st.st_ino))
                    total += st.st_blocks * 512
    return total


class Migration:
    min_ops = 1
    n_groups = 8

    def __init__(self, spark, tracer, seed: int, work: str, traced: bool):
        self.spark, self.tracer, self.seed, self.work = spark, tracer, seed, work
        # the derived stores are built, folded and checked in traced runs
        # only: the untraced run's time budget has no room for them
        self.stores = traced
        self.rng = np.random.default_rng([seed, 1])
        perm = self.rng.permutation(gen.N_OWNERS)
        self.groups = [
            sorted(f"u{o}" for o in perm[g::self.n_groups]) for g in range(self.n_groups)
        ]
        self.done_groups: set[int] = set()
        self.dry: dict[str, int] = {}
        self.deleted: list[tuple[int, int]] = []  # (modulus, residue)
        self.layer: dict[str, float] = {}

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        """Generate the inputs, create the versioned share table and, in a
        traced run, its two derived stores."""
        from cernbox_migration_database_spark.operators import keyindex as KI
        from cernbox_migration_database_spark.operators import table_format as TF
        from cernbox_migration_database_spark.operators import zonemap as ZM

        spark, tr = self.spark, self.tracer
        self.inputs, self.gen_times = _generate(
            tr, lambda d: gen.migration_inputs(self.seed, d), self.work, "gen"
        )
        self.meta = spark.read.parquet(self.inputs["meta"])
        self.target = os.path.join(self.work, "oc_share_tbl")
        self.kidx = os.path.join(self.work, "oc_share_keyidx")
        self.zmap = os.path.join(self.work, "oc_share_zonemap.json")
        with tr.span("table_format.create_table"):
            TF.create_table(
                spark.read.parquet(self.inputs["shares"]), self.target,
                partition_by="share_type",
            )
        if self.stores:
            with tr.span("keyindex.create_key_index"):
                KI.create_key_index(spark, self.target, self.kidx, "id")
            with tr.span("zonemap.create_zone_map"):
                ZM.create_zone_map(spark, self.target, self.zmap, col="stime", key="id")
        self.base_version = TF.current_version(self.target)
        self.base_bytes = dir_bytes(self.target, self.kidx)

    # -- one apply cycle ---------------------------------------------------

    def _create_fn(self, missing):
        """The create sink: 'creates' each missing versions folder by writing
        its catalog row (inode derived from the file inode), then re-reads
        the written rows — an action barrier like the real sink."""
        from pyspark.sql import functions as F

        out = os.path.join(self.work, "created_meta")
        with self.tracer.span("migration.create_fn"):
            missing.select(
                (F.col("f_inode") + F.lit(CREATED_INODE_OFFSET)).alias("inode"),
                F.col("target_path").alias("path"),
                F.col("f_uid").alias("uid"),
                F.col("f_gid").alias("gid"),
                F.lit(0).cast("long").alias("size"),
            ).write.mode("overwrite").parquet(out)
            return self.spark.read.parquet(out)

    def op(self, i: int) -> None:
        """Apply the migration to one batch of share owners, read from the
        table's current snapshot: run_migration, merge the updated rows back
        (merge-on-read), write the audit and dead-letter sinks, then delete a
        seeded slice of non-public shares."""
        from pyspark.sql import functions as F

        from cernbox_migration_database_spark.operators import table_format as TF
        from cernbox_migration_database_spark.plans.migration import run_migration

        spark, tr = self.spark, self.tracer
        g = i % self.n_groups
        self.last_group, self.last_deletes = g, len(self.deleted)
        version = TF.current_version(self.target)
        with tr.span("table_format.read_table"):
            shares = TF.read_table(spark, self.target, version).where(
                F.col("uid_owner").isin(self.groups[g])
            )
        with tr.span("migration.run_migration"):
            res = run_migration(
                shares, self.meta, home_prefix=HOME_PREFIX,
                dry_run=False, create_fn=self._create_fn,
            )
        upd = res.merged.where(F.col("updated")).drop("updated")
        with tr.span("table_format.merge_into"):
            # merge-on-read: an owner batch is a small update into a big
            # table, the shape MOR commits without rewriting partitions
            TF.merge_into(
                spark, self.target, upd, on="id", when_not_matched=None, write_mode="mor"
            )
        with tr.span("migration.sinks"):
            res.audit.write.mode("overwrite").parquet(os.path.join(self.work, "audit"))
            res.dead.write.mode("overwrite").parquet(os.path.join(self.work, "dead"))
        resid = int(self.rng.integers(0, 97))
        self.deleted.append((97, resid))
        with tr.span("table_format.delete_where"):
            TF.delete_where(
                spark, self.target,
                (F.col("share_type") == 0) & (F.col("id") % 97 == resid),
            )
        self.done_groups.add(g)

    def first_op(self) -> float:
        t0 = time.perf_counter()
        self.op(0)
        return time.perf_counter() - t0

    # -- once per run --------------------------------------------------------

    def catch_up(self) -> None:
        """Bring the derived stores up to the table: fold every commit of
        the run into the key index and the zone map, then read the change
        feed since set-up."""
        from cernbox_migration_database_spark.operators import keyindex as KI
        from cernbox_migration_database_spark.operators import table_format as TF
        from cernbox_migration_database_spark.operators import zonemap as ZM

        spark, tr = self.spark, self.tracer
        t0 = time.perf_counter()
        with tr.span("keyindex.refresh_key_index"):
            KI.refresh_key_index(spark, self.kidx)
        with tr.span("zonemap.refresh_zone_map"):
            ZM.refresh_zone_map(spark, self.zmap)
        self.layer["store_lag_s"] = time.perf_counter() - t0
        with tr.span("table_format.read_changes"):
            changed = TF.read_changes(
                spark, self.target, "id", from_version=self.base_version
            ).count()
        added = dir_bytes(self.target, self.kidx) - self.base_bytes
        row_bytes = self.base_bytes / self.inputs["n_shares"]
        self.layer["write_amp"] = added / (max(changed, 1) * row_bytes)

    def batch(self) -> None:
        """Traced runs only: the store catch-up, then the dry run over the
        whole input with its three output streams materialized."""
        from cernbox_migration_database_spark import util as U
        from cernbox_migration_database_spark.plans.migration import run_migration

        spark, tr = self.spark, self.tracer
        self.catch_up()
        with tr.span("migration.dry_run") as sp:
            res = run_migration(
                spark.read.parquet(self.inputs["shares"]), self.meta,
                home_prefix=HOME_PREFIX, dry_run=True,
            )
            self.dry = {
                "updates": res.updates.count(),
                "audit": res.audit.count(),
                "dead": res.dead.count(),
            }
            if sp is not None:
                sp.df = res.updates
        self.layer["persisted_rdds"] = float(len(spark.sparkContext._jsc.getPersistentRDDs()))
        with tr.span("util.release_persisted"):
            U.release_persisted()

    # -- correctness (outside the timed region) -------------------------------

    def check(self) -> list[str]:
        import oracle

        from cernbox_migration_database_spark.operators import keyindex as KI
        from cernbox_migration_database_spark.operators import table_format as TF
        from cernbox_migration_database_spark.operators import zonemap as ZM
        from pyspark.sql import functions as F

        spark = self.spark
        errs = []
        owners = sorted(o for g in self.done_groups for o in self.groups[g])
        exp = oracle.migration_expected(
            self.inputs["shares"], self.inputs["meta"], CREATED_INODE_OFFSET,
            owners, self.deleted,
            {"last": (self.groups[self.last_group], self.deleted[:self.last_deletes])},
        )
        got = TF.read_table(spark, self.target).toPandas()
        errs += oracle.compare_frames("migration final snapshot", got, exp["final"], "id")
        self.output_hash = f"{oracle.frame_hash(got, list(exp['final'].columns)):016x}"
        if self.dry and self.dry["updates"] != exp["n_updates_dry"]:
            errs.append(f"dry-run updates {self.dry['updates']} != oracle {exp['n_updates_dry']}")
        # row ledger: every input share is an audit row, a dead letter, or
        # dropped by the scan filter — for the last apply (over the owners
        # it migrated, from the snapshot it read) and for the dry run
        ledgers = {
            "last apply": (
                *exp["ledger_in"]["last"],
                spark.read.parquet(os.path.join(self.work, "audit")).count(),
                spark.read.parquet(os.path.join(self.work, "dead")).count(),
            ),
        }
        if self.dry:
            ledgers["dry run"] = (
                self.inputs["n_shares"], exp["n_scan_dropped"],
                self.dry["audit"], self.dry["dead"],
            )
        for what, (n_in, dropped, audit, dead) in ledgers.items():
            if audit + dead + dropped != n_in:
                errs.append(
                    f"{what} ledger: {audit} audit + {dead} dead + "
                    f"{dropped} dropped != {n_in} input shares"
                )
        if not self.stores:
            return errs
        # derived stores against plain filters over the final snapshot
        final = exp["final"]
        keys = [int(k) for k in self.rng.choice(final["id"].to_numpy(), 16, replace=False)]
        keys.append(int(final["id"].max()) + 1)  # a miss
        got_pl = KI.point_lookup(spark, self.kidx, keys).select("id").toPandas()
        if sorted(got_pl["id"]) != sorted(final[final["id"].isin(keys)]["id"]):
            errs.append("point_lookup disagrees with a plain key filter")
        lo = int(np.quantile(final["stime"], 0.40))
        hi = int(np.quantile(final["stime"], 0.42))
        got_rp = ZM.range_prune_scan(spark, self.zmap, lo, hi).select("id").toPandas()
        want = final[(final["stime"] >= lo) & (final["stime"] <= hi)]["id"]
        if sorted(got_rp["id"]) != sorted(want):
            errs.append("range_prune_scan disagrees with a plain range filter")
        return errs

    def layer_metrics(self, summary: dict) -> dict[str, float]:
        return {f"migration.{k}": v for k, v in self.layer.items()}


class Serve:
    kinds = ("bm25", "ivfpq", "lsh", "key", "cbxtable")
    min_ops = 1

    def __init__(self, spark, tracer, seed: int, work: str, traced: bool):
        self.spark, self.tracer, self.seed, self.work = spark, tracer, seed, work
        self.manifest = None
        self.check_times: dict[str, float] = {}
        self.probe_times: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}

    def setup(self) -> None:
        from cernbox_migration_database_spark.operators import ivfpqindex as PQX
        from cernbox_migration_database_spark.operators import keyindex as KI
        from cernbox_migration_database_spark.operators import lshindex as LX
        from cernbox_migration_database_spark.operators import similarity as S
        from cernbox_migration_database_spark.operators import table_format as TF
        from cernbox_migration_database_spark.operators import textindex as TI
        from cernbox_migration_database_spark.sources import catalog
        from cernbox_migration_database_spark.sources import cbx_datasource as DS

        spark, tr, w = self.spark, self.tracer, self.work
        self.paths, self.gen_times = _generate(
            tr, lambda d: gen.serve_inputs(self.seed, d), w, "sf"
        )
        texts = pq.read_table(self.paths["documents"], columns=["text"])["text"]
        self.doc_words = [t.split() for t in texts.to_pylist()]
        self.sf_dir = os.path.dirname(self.paths["documents"])
        with tr.span("catalog.load_table"):
            docs = catalog.load_table(spark, self.sf_dir, "documents")
            emb = catalog.load_table(spark, self.sf_dir, "embeddings")
            orders = catalog.load_table(spark, self.sf_dir, "orders")
        self.docs, self.emb = docs.select("doc_id", "text"), emb.select("vec_id", "embedding")
        self.tidx = os.path.join(w, "textidx")
        self.lbase, self.lidx = os.path.join(w, "lsh_docs"), os.path.join(w, "lshidx")
        self.pbase, self.pidx = os.path.join(w, "pq_emb"), os.path.join(w, "pqidx")
        self.otab, self.okidx = os.path.join(w, "orders_tbl"), os.path.join(w, "orders_keyidx")

        def text():
            with tr.span("textindex.build_text_index"):
                TI.build_text_index(spark, docs, self.tidx, n_buckets=N_BUCKETS)
            self._cold("bm25")

        def lsh():
            with tr.span("lshindex.build_lsh_index"):
                TF.create_table(self.docs, self.lbase)
                LX.build_lsh_index(spark, self.lbase, self.lidx, n_buckets=N_BUCKETS)
            self._cold("lsh")

        def ivfpq():
            with tr.span("ivfpqindex.build_ivfpq_index"):
                # quantizers seeded from the generated corpus: N_BUCKETS
                # cells, m=8 subspaces of 16 codes
                self.centroids = S.seed_centroids(self.emb, k=N_BUCKETS)
                self.codebooks = S.pq_codebooks(self.emb)
                TF.create_table(self.emb, self.pbase)
                PQX.build_ivfpq_index(spark, self.pbase, self.pidx, self.centroids, self.codebooks)
            self._cold("ivfpq")

        def keys():
            with tr.span("keyindex.create_key_index"):
                TF.create_table(
                    orders.select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"),
                    self.otab, partition_by="o_orderpriority",
                )
                KI.create_key_index(spark, self.otab, self.okidx, "o_orderkey")
            self._cold("key")
            DS.register(spark)
            self._cold("cbxtable")

        # the fixtures are independent: build them concurrently, each from
        # its own driver thread (Spark runs their jobs side by side), and
        # probe each one cold as soon as it stands
        self.cold, self.cold_s = [], {}
        with ThreadPoolExecutor(max_workers=4) as pool:
            for f in [pool.submit(fn) for fn in (ivfpq, text, lsh, keys)]:
                f.result()
        self.orders_bytes = dir_bytes(self.otab)

    # -- probes ------------------------------------------------------------

    def _params(self, kind: str, rng) -> dict:
        if kind == "bm25":
            words = self.doc_words[int(rng.integers(0, len(self.doc_words)))]
            n = int(rng.integers(2, 4))
            return {"terms": sorted({str(t) for t in rng.choice(words, n)})}
        if kind == "ivfpq":
            return {"ids": [int(x) for x in rng.choice(gen.N_EMB, 8, replace=False)]}
        if kind == "lsh":
            return {"ids": [int(x) for x in rng.choice(gen.N_DOCS, 8, replace=False)]}
        if kind == "key":
            return {"keys": [int(x) for x in rng.choice(gen.N_ORDERS, 16, replace=False)]}
        pr = sorted(str(p) for p in rng.choice(gen.PRIORITIES, 2, replace=False))
        return {"priorities": pr, "price": float(np.round(rng.uniform(100_000, 400_000), 2))}

    def build(self, kind: str, p: dict):
        """The builder call that returns the probe's DataFrame."""
        from pyspark.sql import functions as F

        from cernbox_migration_database_spark.operators import ivfpqindex as PQX
        from cernbox_migration_database_spark.operators import keyindex as KI
        from cernbox_migration_database_spark.operators import lshindex as LX
        from cernbox_migration_database_spark.operators import textindex as TI

        spark = self.spark
        if kind == "bm25":
            return TI.bm25_probe(spark, self.tidx, p["terms"], top_k=10)
        if kind == "ivfpq":
            q = self.emb.where(F.col("vec_id").isin(p["ids"]))
            return PQX.probe_ivfpq_index(spark, self.pidx, q, nprobe=4, top_k=5)
        if kind == "lsh":
            return LX.probe_lsh_index(spark, self.lidx, self.docs.where(F.col("doc_id").isin(p["ids"])))
        if kind == "key":
            return KI.point_lookup(spark, self.okidx, p["keys"])
        return (
            spark.read.format("cbxtable").load(self.otab)
            .where(
                F.col("o_orderpriority").isin(*p["priorities"])
                & (F.col("o_totalprice") > p["price"])
            )
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s"))
        )

    SPAN = {
        "bm25": "textindex.bm25_probe",
        "ivfpq": "ivfpqindex.probe_ivfpq_index",
        "lsh": "lshindex.probe_lsh_index",
        "key": "keyindex.point_lookup",
        "cbxtable": "cbx_datasource.scan",
    }

    def probe(self, kind: str, p: dict):
        with self.tracer.span(self.SPAN[kind]) as sp:
            t0 = time.perf_counter()
            df = self.build(kind, p)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            self.probe_times.setdefault(kind, []).append(round(t2 - t0, 3))
            if sp is not None:
                sp.stats["build_s"] = t1 - t0
                sp.stats["exec_s"] = t2 - t1
                sp.df = df
        return rows

    def _cold(self, kind: str) -> None:
        """The first probe of a kind, run during set-up on the fixture's own
        thread. Its answer is the one checked after the run."""
        p = self._params(kind, np.random.default_rng([self.seed, 5, self.kinds.index(kind)]))
        t0 = time.perf_counter()
        self.cold.append((kind, p, self.probe(kind, p)))
        self.cold_s[kind] = time.perf_counter() - t0

    def op(self, i: int) -> None:
        """One round: a probe of every kind, in a fixed order with seeded
        parameters, then ``release_persisted`` as a long-lived session does
        between queries."""
        from cernbox_migration_database_spark import util as U

        rng = np.random.default_rng([self.seed, 3, i])
        for kind in self.kinds:
            self.probe(kind, self._params(kind, rng))
        with self.tracer.span("util.release_persisted"):
            U.release_persisted()

    def first_op(self) -> float:
        """The cold probes ran during set-up: report their summed time."""
        return sum(self.cold_s.values())

    # -- once per run --------------------------------------------------------

    def batch(self) -> None:
        """Traced runs only: build and pack the pretraining corpus from the
        same documents."""
        from cernbox_migration_database_spark import queries as Q
        from cernbox_migration_database_spark.queries._registry import STAGE_TIMES

        clean, pack = Q.PHASED["pipeline_pretraining_corpus"]
        with self.tracer.span("train.pipeline_clean"):
            path = clean(self.spark, self.sf_dir)
        with self.tracer.span("train.pipeline_pack") as sp:
            df = pack(self.spark, path)
            self.manifest = df.collect()
            if sp is not None:
                sp.df = df
        self.survivors = self.spark.read.parquet(path).count()
        for k, v in STAGE_TIMES.get("pipeline_pretraining_corpus", {}).items():
            self.layer[f"train.{k}.s"] = float(v)

    # -- correctness (outside the timed region) -------------------------------

    def check(self) -> list[str]:
        import oracle

        errs = []
        self.output_hash = hashlib.sha256(
            repr([(k, sorted(map(tuple, rows))) for k, _, rows in self.cold]).encode()
        ).hexdigest()[:16]
        for kind, p, rows in self.cold:
            t0 = time.perf_counter()
            errs += getattr(oracle, f"check_{kind}")(self, p, rows)
            self.check_times[kind] = time.perf_counter() - t0
        if self.manifest is not None:
            t0 = time.perf_counter()
            errs += oracle.check_corpus(self.paths["documents"], self.manifest)
            self.check_times["corpus"] = time.perf_counter() - t0
        return errs

    def layer_metrics(self, summary: dict) -> dict[str, float]:
        out = dict(self.layer)
        out["train.docs_out"] = float(getattr(self, "survivors", 0))
        # input bytes over table bytes; a Python DataSource reports no input
        # bytes, so the cbxtable scan has no such ratio
        read_mb = summary.get("keyindex.point_lookup", {}).get("input_mb", 0.0)
        out["keyindex.point_lookup.read_frac"] = read_mb * 1024 * 1024 / self.orders_bytes
        return out


WORKLOADS = {"migration": Migration, "serve": Serve}
