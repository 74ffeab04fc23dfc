"""fixWrp (request_handler_test.go:372-456), event-type extraction,
time functions, and text/vector function edge cases."""

import math

import pytest
from pyspark.sql import Row, functions as F

from xmidt_event_streams_spark.enrich import (
    classify_rejects,
    extract_event_type,
    fix_wrp,
)
from xmidt_event_streams_spark.functions.text import (
    predict_lang,
    token_count,
    word_ngrams,
)
from xmidt_event_streams_spark.functions.time import (
    duration_seconds_from_string,
    ts_from_number_string,
)
from xmidt_event_streams_spark.functions.vectors import cosine


class TestFixWrp:
    def _run(self, spark, ct, tx):
        df = spark.createDataFrame(
            [Row(event_id=1, content_type=ct, transaction_uuid=tx)]
        )
        return fix_wrp(df, deterministic_uuid_from="event_id").collect()[0]

    def test_both_empty(self, spark):
        r = self._run(spark, "", "")
        assert r["content_type"] == "application/json"
        assert len(r["transaction_uuid"]) == 36 and r["transaction_uuid"].count("-") == 4
        assert r["fix_reason"] == "empty_uuid_and_content_type"

    def test_uuid_only(self, spark):
        r = self._run(spark, "text/plain", "")
        assert r["content_type"] == "text/plain"
        assert r["fix_reason"] == "empty_uuid"

    def test_content_type_only(self, spark):
        r = self._run(spark, "", "txn-1")
        assert r["transaction_uuid"] == "txn-1"
        assert r["fix_reason"] == "empty_content_type"

    def test_untouched(self, spark):
        r = self._run(spark, "application/json", "txn-1")
        assert r["fix_reason"] == ""

    def test_production_uuid_is_random(self, spark):
        df = spark.createDataFrame(
            [Row(event_id=i, content_type="", transaction_uuid="") for i in range(2)]
        )
        rows = fix_wrp(df).collect()
        assert rows[0]["transaction_uuid"] != rows[1]["transaction_uuid"]


class TestEventTypeExtraction:
    def test_cases(self, spark):
        df = spark.createDataFrame(
            [
                Row(dest="event:device-status/mac:1/online"),
                Row(dest="event:boot-time"),
                Row(dest="no-prefix/x"),
                Row(dest="event:"),
                Row(dest=""),
                Row(dest=None),
            ]
        )
        out = [r["t"] for r in df.select(extract_event_type("dest").alias("t")).collect()]
        assert out == ["device-status", "boot-time", "unknown", "unknown", "unknown", "unknown"]


class TestRejects:
    def test_msg_type_and_nulls(self, spark):
        df = spark.createDataFrame(
            [Row(msg_type=4, dest="d"), Row(msg_type=3, dest="d"), Row(msg_type=4, dest=None)]
        )
        out = classify_rejects(df, required_cols=("dest",)).collect()
        reasons = [r["reject_reason"] for r in out]
        assert reasons == ["", "invalid_msg_type", "null_dest"]


class TestTimeFunctions:
    def test_epoch_heuristic(self, spark):
        df = spark.createDataFrame(
            [Row(s="1704067798"), Row(s="1704067798778549")]
        )
        out = df.select(
            F.unix_micros(ts_from_number_string("s")).alias("us")
        ).collect()
        assert out[0]["us"] == 1704067798000000
        assert out[1]["us"] == 1704067798778549

    def test_durations(self, spark):
        df = spark.createDataFrame([Row(d="30s"), Row(d="5m"), Row(d="2h"), Row(d="250ms")])
        out = [r["v"] for r in df.select(duration_seconds_from_string("d").alias("v")).collect()]
        assert out == [30.0, 300.0, 7200.0, 0.25]


class TestTextFunctions:
    def test_empty_text_token_count(self, spark):
        df = spark.createDataFrame([Row(t=""), Row(t="   "), Row(t="a b")])
        out = [r["n"] for r in df.select(token_count("t").alias("n")).collect()]
        assert out == [0, 0, 2]

    def test_word_ngrams_short_doc(self, spark):
        df = spark.createDataFrame([Row(t="a b")])
        out = df.select(word_ngrams("t", 3).alias("g")).collect()[0]["g"]
        assert out == []

    def test_minhash_sql_tokenization_matches_column_api(self, spark):
        """The r10 SQL-text minhash build must tokenize EXACTLY like
        the Column API it replaced. Regression pin for the \\f escape
        pitfall: the SQL parser drops the backslash from escapes it
        does not recognize, so a '\\f' in the whitespace-class literal
        became a literal 'f' and silently stripped f's from every
        shingle ('fast' -> 'ast'). Texts cover every whitespace-class
        member, f-heavy words, and too-short docs."""
        from pyspark.sql import functions as F

        from xmidt_event_streams_spark.operators.dedup import (
            minhash_signature,
            minhash_signatures_df,
        )

        rows = [
            Row(doc_id=0, t="fast filter faceff fluff for from offf"),
            Row(doc_id=1, t="a\tb\nc\x0bd\fe\rf  g a\tb\nc"),
            Row(doc_id=2, t="one two"),  # too short: absent from df
            Row(doc_id=3, t="The FÖÖ café f f f f"),
        ]
        df = spark.createDataFrame(rows)
        got = {
            r["doc_id"]: [r[f"h{i}"] for i in range(8)]
            for r in minhash_signatures_df(df, "t", "doc_id", 8, 3).collect()
        }
        want = {
            r["doc_id"]: list(r["sig"])
            for r in df.select(
                "doc_id", minhash_signature("t", 8, 3).alias("sig")
            ).collect()
            if r["sig"][0] is not None
        }
        assert got == want

    def test_minhash_kernel_matches_sql_pipeline(self, spark):
        """r11: the Arrow signature kernel (tokenize/shingle/md5 in
        Python, vectorized universal-hash mins) must be BIT-IDENTICAL
        to the explode+hash-agg SQL pipeline it replaced on the
        candidate path -- same whitespace class, same space-trim,
        same 60-bit md5 base mod P, same duplicate-shingle and
        too-short-doc handling. Reuses the adversarial texts of the
        \\f-escape pin above (every whitespace-class member, unicode
        case folding, too-short docs) plus null text."""
        from xmidt_event_streams_spark.operators.dedup import (
            minhash_signatures_df,
            minhash_signatures_kernel,
        )

        rows = [
            Row(doc_id=0, t="fast filter faceff fluff for from offf"),
            Row(doc_id=1, t="a\tb\nc\x0bd\fe\rf  g a\tb\nc"),
            Row(doc_id=2, t="one two"),  # too short: absent
            Row(doc_id=3, t="The FÖÖ café f f f f"),
            Row(doc_id=4, t=None),  # null text: absent
            Row(doc_id=5, t="dup dup dup dup dup dup"),  # dup shingles
        ]
        df = spark.createDataFrame(rows, "doc_id long, t string")
        sql_rows = sorted(
            map(tuple, minhash_signatures_df(df, "t", "doc_id").collect())
        )
        kern_rows = sorted(
            map(tuple, minhash_signatures_kernel(df, "t", "doc_id").collect())
        )
        assert sql_rows == kern_rows
        assert len(sql_rows) == 4  # docs 2 and 4 absent from both

    @pytest.mark.parametrize("id_type", ["double", "string"])
    def test_minhash_kernel_rejects_non_integral_ids(self, spark, id_type):
        """The kernel's ids are int64: a double id would be truncated
        (1.7 -> 1) and a string id would fail inside the Python worker,
        so both are refused when the plan is built."""
        from xmidt_event_streams_spark.operators.dedup import (
            minhash_signatures_kernel,
        )

        doc_id = 1.7 if id_type == "double" else "doc-1"
        df = spark.createDataFrame(
            [(doc_id, "fast filter faceff fluff")], f"doc_id {id_type}, t string"
        )
        with pytest.raises(TypeError, match=f"integral 'doc_id'.*{id_type}"):
            minhash_signatures_kernel(df, "t", "doc_id")

    def test_lang_id_stopwords(self, spark):
        df = spark.createDataFrame(
            [Row(t="the cat and the dog is in that house"),
             Row(t="el perro y la casa de los gatos se fue"),
             Row(t="xyzzy plugh")]
        )
        out = [r["l"] for r in df.select(predict_lang("t").alias("l")).collect()]
        assert out == ["en", "es", "und"]


class TestVectors:
    def test_cosine_known_values(self, spark):
        df = spark.createDataFrame(
            [Row(a=[1.0, 0.0], b=[1.0, 0.0]), Row(a=[1.0, 0.0], b=[0.0, 1.0]),
             Row(a=[1.0, 1.0], b=[1.0, 0.0]), Row(a=[0.0, 0.0], b=[1.0, 0.0])]
        )
        out = [r["c"] for r in df.select(cosine("a", "b").alias("c")).collect()]
        assert out[0] == 1.0
        assert out[1] == 0.0
        assert math.isclose(out[2], 1 / math.sqrt(2))
        assert out[3] == 0.0  # zero vector guard

    def test_cosine_pairs_matches_expression_cosine(self, spark):
        from xmidt_event_streams_spark.functions.vectors import cosine_pairs

        df = spark.createDataFrame(
            [Row(a=[1.0, 0.0], b=[1.0, 0.0]), Row(a=[1.0, 0.0], b=[0.0, 1.0]),
             Row(a=[1.0, 1.0], b=[1.0, 0.0]), Row(a=[0.0, 0.0], b=[1.0, 0.0]),
             Row(a=[0.5, -2.5], b=[-1.5, 3.25])]
        )
        rows = df.select(
            F.round(cosine("a", "b"), 9).alias("expr"),
            F.round(cosine_pairs("a", "b"), 9).alias("np"),
        ).collect()
        assert all(r["expr"] == r["np"] for r in rows)

    def test_sign_bits_matches_expression_bits(self, spark):
        from xmidt_event_streams_spark.functions.vectors import (
            random_projection_sign_bits,
            sign_bits,
        )
        from xmidt_event_streams_spark.operators.similarity import (
            deterministic_planes,
        )

        planes = deterministic_planes(6, 4)
        df = spark.createDataFrame(
            [Row(v=[float(i) - 1.7, 0.3 * i, -float(i * i), 2.0]) for i in range(20)]
        )
        rows = df.select(
            random_projection_sign_bits("v", planes).alias("expr"),
            sign_bits("v", planes).alias("np"),
        ).collect()
        assert all(r["expr"] == r["np"] for r in rows)

    def test_nearest_cells_tie_breaks_to_lowest_cell(self, spark):
        from xmidt_event_streams_spark.functions.vectors import nearest_cells

        # centroids 1 and 2 are identical -> equal sims; lowest cell wins
        cents = [[0.0, 1.0], [1.0, 0.0], [1.0, 0.0]]
        df = spark.createDataFrame([Row(v=[2.0, 0.1])])
        top = df.select(nearest_cells("v", cents, 3).alias("c")).collect()[0]["c"]
        assert list(top) == [1, 2, 0]

    def test_kernels_null_out_poison_rows(self, spark):
        """NULL and ragged-length vectors must NULL the kernel output,
        never crash the task (poison containment parity with the
        expression twins, which also keep the task alive)."""
        from pyspark.sql.types import (
            ArrayType, DoubleType, StructField, StructType,
        )

        from xmidt_event_streams_spark.functions.vectors import (
            cosine_pairs, nearest_cells, sign_bits,
        )

        schema = StructType(
            [
                StructField("a", ArrayType(DoubleType())),
                StructField("b", ArrayType(DoubleType())),
            ]
        )
        df = spark.createDataFrame(
            [
                ([1.0, 0.0], [1.0, 0.0]),      # healthy
                (None, [1.0, 0.0]),            # null left
                ([1.0, 0.0], None),            # null right
                ([1.0, 0.0, 5.0], [1.0, 0.0]), # ragged pair
                ([2.0, 2.0], [1.0, 1.0]),      # healthy
            ],
            schema,
        )
        cos = [r["c"] for r in df.select(cosine_pairs("a", "b").alias("c")).collect()]
        assert cos[0] == 1.0 and cos[4] is not None
        assert cos[1] is None and cos[2] is None and cos[3] is None

        planes = [[1.0, 0.0], [0.0, 1.0]]
        bits = [
            r["s"] for r in df.select(sign_bits("a", planes).alias("s")).collect()
        ]
        assert bits[0] == "11" and bits[1] is None
        assert bits[3] is None  # len 3 vs plane dim 2

        cells = [
            r["c"]
            for r in df.select(nearest_cells("a", planes, 1).alias("c")).collect()
        ]
        assert cells[0] is not None and cells[1] is None and cells[3] is None


class TestSanitizeUtf8:
    """F7 strings.ToValidUTF8 (filter/filter_factory.go:52)."""

    def test_invalid_bytes_replaced(self, spark):
        from xmidt_event_streams_spark.functions.text import sanitize_utf8

        df = spark.createDataFrame(
            [(bytearray(b"ok \xff\xfe end"),), (bytearray(b"plain"),), (None,)],
            "b binary",
        )
        got = [r.s for r in df.select(sanitize_utf8("b", from_binary=True).alias("s")).collect()]
        assert got == ["ok �� end", "plain", None]

    def test_valid_string_is_identity(self, spark):
        from pyspark.sql import functions as F

        from xmidt_event_streams_spark.functions.text import sanitize_utf8

        df = spark.createDataFrame([("héllo wörld",), ("",)], "s string")
        assert df.filter(sanitize_utf8("s") != F.col("s")).count() == 0


class TestTsRepresentations:
    """The driver has shipped events.ts as parquet TIMESTAMP(NANOS)
    (int64 under nanosAsLong) and as plain timestamp[us]
    (TIMESTAMP_NTZ) across data refreshes; load_tables must normalize
    BOTH to session TIMESTAMP with identical values (r3 regression:
    the us-NTZ refresh broke every unix_micros/window query)."""

    def test_both_physical_types_normalize_identically(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from xmidt_event_streams_spark.session import normalize_nanos

        micros = [1_700_000_000_000_000, 1_700_000_123_456_789]
        t_us = pa.table(
            {"ts": pa.array(micros, pa.timestamp("us"))}
        )
        t_ns = pa.table(
            {"ts": pa.array([m * 1000 for m in micros], pa.timestamp("ns"))}
        )
        pq.write_table(t_us, str(tmp_path / "us.parquet"))
        pq.write_table(
            t_ns, str(tmp_path / "ns.parquet"), coerce_timestamps=None
        )

        out = {}
        for name in ("us", "ns"):
            df = normalize_nanos(
                spark.read.parquet(str(tmp_path / f"{name}.parquet"))
            )
            assert dict(df.dtypes)["ts"] == "timestamp"
            out[name] = sorted(
                r[0] for r in df.select(F.unix_micros("ts")).collect()
            )
        assert out["us"] == out["ns"] == sorted(micros)
