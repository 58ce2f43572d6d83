"""Composed curation funnel (analytics/funnel.py): per-stage loss attribution
partitions exactly, the duplicate wave is what exact dedup removes, and the
incremental path reproduces the full recompute, displacement included."""

import pytest

from pgsf_spark.analytics.registry import QUERIES
from tests.conftest import SF_DIR


class TestFunnelSemantics:
    def test_loss_attribution_partitions_and_dup_wave_is_removed(self, spark):
        """ingest - final == sum(drops); the injected duplicate wave's
        survivors are exactly what exact_dedup removes (natural exact
        dups are zero in the fixture corpus, asserted separately); the
        funnel is monotone."""
        from pyspark.sql import functions as F

        from pgsf_spark.analytics import funnel
        from pgsf_spark.tables import load_table

        rows = {
            r["stage"]: r
            for r in QUERIES["curation_funnel_gate"].fn(spark, SF_DIR).collect()
        }
        assert list(rows) == list(funnel.STAGES)
        drops = sum(r["n_dropped"] for r in rows.values())
        assert rows["ingest"]["n_docs"] - rows["prefix_dedup"]["n_docs"] == drops

        docs = load_table(spark, SF_DIR, "documents")
        # the corpus has no natural exact duplicates, so exact_dedup's
        # drop count equals the duplicate wave's survivors at that stage
        norm = F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))
        n_docs, n_norms = docs.agg(
            F.count(F.lit(1)), F.count_distinct(norm)
        ).first()
        assert n_docs == n_norms, "fixture grew natural exact dups"
        dup_wave_survivors = rows["exact_dedup"]["n_dropped"]
        n_wave = docs.filter(F.col("doc_id") % funnel.DUP_MOD == 0).count()
        assert 0 < dup_wave_survivors <= n_wave

    def test_incremental_displacement_is_exercised_not_vacuous(self, spark):
        """The property only means something if day 2 actually contains
        keep-min winners: assert some funnel survivors have doc_id % 3
        == 0 (day-2 docs won groups), so the reconciliation path -- not
        just the append path -- is what the gate proved."""
        from pyspark.sql import functions as F

        from pgsf_spark.analytics import funnel
        from pgsf_spark.analytics.funnel import _featurize, _funnel_survivors, _ingest

        surv = _funnel_survivors(_featurize(_ingest(spark, SF_DIR)))
        day2_winners = surv.filter(F.col("doc_id") % funnel.INCR_MOD == 0).count()
        assert day2_winners > 0
        # and the gate's own in-gate parity assert ran green
        out = QUERIES["curation_funnel_incremental_gate"].fn(spark, SF_DIR)
        assert out.count() > 0


class TestFunnelModelParity:
    """Independent oracle beyond DuckDB: a pure-Python model of the
    funnel (filters + keep-min dedup + incremental reconciliation) run
    against the Spark faces on seeded-random synthetic corpora -- small
    enough to enumerate, adversarial enough to hit displacement,
    cross-batch duplicates, and all-filtered groups."""

    @staticmethod
    def _model_survivors(rows):
        from pgsf_spark.analytics import funnel

        import hashlib
        import re

        def norm(t):
            return re.sub(r"\s+", " ", t.strip()).lower()

        def md5(s):
            return hashlib.md5(s.encode()).hexdigest()

        kept = []
        for doc_id, text, lang in rows:
            n = norm(text)
            toks = n.split(" ")
            n_tok = len(toks)
            mwl = len(n.replace(" ", "")) / n_tok
            sr = sum(1 for t in toks if len(t) <= 3) / n_tok
            if lang not in funnel.FUNNEL_LANGS:
                continue
            if not (
                n_tok >= funnel.MIN_TOKENS
                and funnel.MWL_LO <= mwl <= funnel.MWL_HI
                and sr <= funnel.SHORT_RATIO_MAX
            ):
                continue
            kept.append((doc_id, n))
        # exact keep-min, then prefix keep-min (same order as the face)
        for key_fn in (lambda n: md5(n), lambda n: md5(n[: funnel.PREFIX_K])):
            best = {}
            for doc_id, n in kept:
                k = key_fn(n)
                if k not in best or doc_id < best[k][0]:
                    best[k] = (doc_id, n)
            kept = sorted(best.values())
        return {doc_id for doc_id, _ in kept}

    @pytest.mark.parametrize("seed", [7, 23, 99])
    def test_incremental_equals_model_on_random_corpus(self, spark, seed):
        import random

        from pyspark.sql import functions as F

        from pgsf_spark.analytics import funnel
        from pgsf_spark.analytics.funnel import (
            _featurize,
            _funnel_survivors,
            _lang_filter,
            _quality_filter,
        )

        rng = random.Random(seed)
        words = [f"wordy{i}" for i in range(30)] + ["a", "of", "the", "xy"]
        texts = [
            " ".join(rng.choice(words) for _ in range(rng.randint(5, 60)))
            for _ in range(40)
        ]
        rows = []
        for doc_id in range(120):
            # heavy duplication across ids; ids NOT ordered with batches,
            # so day-2 (doc_id % 3 == 0) holds many keep-min winners
            rows.append(
                (
                    doc_id,
                    texts[rng.randrange(len(texts))],
                    rng.choice(["en", "de", "fr", "zh", "es"]),
                )
            )
        df = _featurize(
            spark.createDataFrame(rows, "doc_id long, text string, lang string")
        )
        # full recompute vs the model
        full = {
            r["doc_id"] for r in _funnel_survivors(df).select("doc_id").collect()
        }
        assert full == self._model_survivors(rows)
        # incremental path (the gate's algorithm) vs the same model
        day1 = df.filter(F.col("doc_id") % funnel.INCR_MOD != 0)
        day2 = df.filter(F.col("doc_id") % funnel.INCR_MOD == 0)
        published = _funnel_survivors(day1)
        candidates = _quality_filter(_lang_filter(day2))
        incr = {
            r["doc_id"]
            for r in _funnel_survivors(published.unionByName(candidates))
            .select("doc_id")
            .collect()
        }
        assert incr == full
        # non-vacuous: displacement happened (some day-2 winner evicted a
        # day-1 survivor of the same fingerprint group)
        day1_surv = {
            r["doc_id"] for r in published.select("doc_id").collect()
        }
        assert any(d % funnel.INCR_MOD == 0 for d in full)
        assert day1_surv - full, "no day-1 survivor was displaced; corpus too easy"
