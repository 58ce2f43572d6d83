"""Semi-structured round trips (analytics/semistructured.py): VARIANT,
from_json and XML escaping fidelity, and the loud XML control-char limit."""

import pytest
from pyspark.sql import functions as F


class TestSemiStructuredEscaping:
    """The synthetic corpus is ASCII-only, so the oracle gates never
    exercise escaping. Pin the round-trip fidelity boundaries of each
    wire format on a curated edge-case set (quotes, backslashes,
    whitespace, newlines, unicode incl. astral, XML specials, control
    chars) -- measured behavior on pyspark 4.1.2."""

    CASES = [
        "plain",
        "",
        " ",
        "  leading and trailing  ",
        'quote " inside',
        "apos ' inside",
        "backslash \\ inside",
        "newline \n inside",
        "tab \t inside",
        "unicode é 中文 \U0001f99c",
        "xml specials < > & ]]>",
        "two  spaces",
    ]
    CONTROL = "control \x01 char"  # XML 1.0 cannot represent this

    def _df(self, spark, extra=()):
        cases = [*self.CASES, *extra]
        return spark.createDataFrame(list(enumerate(cases)), "id int, s string")

    def test_variant_roundtrip_full_fidelity(self, spark):
        # JSON/VARIANT round-trips EVERYTHING, control chars included
        df = self._df(spark, extra=[self.CONTROL])
        rt = df.select(
            "s",
            F.try_variant_get(
                F.parse_json(F.to_json(F.struct("s"))), "$.s", "string"
            ).alias("rt"),
        )
        assert rt.filter(~F.col("rt").eqNullSafe(F.col("s"))).count() == 0

    def test_from_json_roundtrip_full_fidelity(self, spark):
        df = self._df(spark, extra=[self.CONTROL])
        rt = df.select(
            "s", F.from_json(F.to_json(F.struct("s")), "s string").alias("p")
        )
        assert rt.filter(~F.col("p.s").eqNullSafe(F.col("s"))).count() == 0

    def test_xml_roundtrip_with_surrounding_spaces_preserved(self, spark):
        # default from_xml TRIMS surrounding whitespace; the option
        # restores exact fidelity -- pin the option, not the default
        df = self._df(spark)
        rt = df.select(
            "s",
            F.from_xml(
                F.to_xml(F.struct("s")),
                "s string",
                {"ignoreSurroundingSpaces": "false"},
            ).alias("p"),
        )
        assert rt.filter(~F.col("p.s").eqNullSafe(F.col("s"))).count() == 0

    def test_xml_default_trims_surrounding_spaces(self, spark):
        df = spark.createDataFrame([(0, "  padded  ")], "id int, s string")
        got = df.select(
            F.from_xml(F.to_xml(F.struct("s")), "s string").alias("p")
        ).collect()[0]["p"]["s"]
        assert got == "padded"  # the measured default

    def test_xml_control_chars_fail_loudly(self, spark):
        # inherent XML 1.0 limitation: to_xml raises on 0x01 instead of
        # silently corrupting -- the boundary a mixed-format pipeline
        # must route around (keep control-char payloads on JSON/VARIANT)
        df = spark.createDataFrame([(0, self.CONTROL)], "id int, s string")
        with pytest.raises(Exception, match="[Ii]nvalid white space|XML"):
            df.select(F.to_xml(F.struct("s")).alias("x")).collect()
