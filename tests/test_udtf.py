"""Python UDTF surface: @udtf-registered table functions callable from
the dialect's FROM clause (SURVEY §2.8's last row — the reference's
generic call syntax src/expression.cpp:210-223 generalized to table
position)."""

import pytest
from pyspark.sql import Row

from warpdb_spark.api import WarpDB
from warpdb_spark.errors import ValidationError
from warpdb_spark.plans.parser import parse_query
from warpdb_spark.plans import ast as A


@pytest.fixture()
def docs_db(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox"),
        Row(doc_id=2, text="  The   QUICK  "),
        Row(doc_id=3, text="one"),
        Row(doc_id=4, text=None),
        Row(doc_id=5, text=""),
    ]
    return WarpDB(df=spark.createDataFrame(rows), table_name="documents", spark=spark)


class TestParser:
    def test_from_table_function_parses(self):
        ast = parse_query("SELECT ngram FROM split_ngrams(documents.text, 2)")
        tfc = ast.from_subquery
        assert isinstance(tfc, A.TableFuncCall)
        assert tfc.name == "split_ngrams"
        assert len(tfc.args) == 2
        assert ast.from_table == "split_ngrams"

    def test_alias_supported(self):
        ast = parse_query("SELECT ngram FROM split_ngrams(documents.text, 2) AS g")
        assert ast.from_table == "g"
        ast = parse_query("SELECT ngram FROM split_ngrams(documents.text, 2) g")
        assert ast.from_table == "g"

    def test_plain_table_ref_unaffected(self):
        ast = parse_query("SELECT x FROM t")
        assert ast.from_subquery is None and ast.from_table == "t"


class TestExecution:
    def test_bigrams_with_normalization(self, docs_db):
        out = docs_db.query_sql(
            "SELECT pos, ngram FROM split_ngrams(documents.text, 2) "
            "WHERE doc_id = 1 ORDER BY pos"
        )
        assert [(r.pos, r.ngram) for r in out.collect()] == [
            (0, "the quick"), (1, "quick brown"), (2, "brown fox"),
        ]

    def test_whitespace_collapse_and_case(self, docs_db):
        out = docs_db.query_sql(
            "SELECT ngram FROM split_ngrams(documents.text, 2) WHERE doc_id = 2"
        )
        assert [r.ngram for r in out.collect()] == ["the quick"]

    def test_short_null_empty_docs_yield_no_rows(self, docs_db):
        out = docs_db.query_sql(
            "SELECT doc_id FROM split_ngrams(documents.text, 2) WHERE doc_id >= 3"
        )
        assert out.count() == 0

    def test_trigrams(self, docs_db):
        out = docs_db.query_sql(
            "SELECT ngram FROM split_ngrams(documents.text, 3) WHERE doc_id = 1 ORDER BY pos"
        )
        assert [r.ngram for r in out.collect()] == ["the quick brown", "quick brown fox"]

    def test_aggregation_over_udtf(self, docs_db):
        out = docs_db.query_sql(
            "SELECT ngram, COUNT(*) AS tf FROM split_ngrams(documents.text, 1) "
            "GROUP BY ngram ORDER BY tf DESC, ngram LIMIT 2"
        )
        rows = [(r.ngram, r.tf) for r in out.collect()]
        assert rows == [("quick", 2), ("the", 2)]

    def test_custom_udtf_registration(self, spark):
        from pyspark.sql.functions import udtf

        @udtf(returnType="c: string")
        class Chars:
            def eval(self, s, k):
                for ch in (s or "")[: int(k)]:
                    yield (ch,)

        db = WarpDB(df=spark.createDataFrame([Row(i=1, s="abc")]), table_name="t", spark=spark)
        db.register_udtf("chars", Chars)
        out = db.query_sql("SELECT c FROM chars(t.s, 2) ORDER BY c")
        assert [r.c for r in out.collect()] == ["a", "b"]

    def test_udtf_registered_once_per_session(self, spark):
        """Repeated queries, and new WarpDB objects with their own
        ``asDeterministic()`` wrappers, register a UDTF with the session
        once; a different class under the same name registers again."""
        from unittest import mock

        from pyspark.sql.functions import udtf
        from pyspark.sql.udtf import UDTFRegistration

        from warpdb_spark.plans import builder

        @udtf(returnType="c: string")
        class Upper:
            def eval(self, s):
                yield ((s or "").upper(),)

        @udtf(returnType="c: string")
        class Lower:
            def eval(self, s):
                yield ((s or "").lower(),)

        src = spark.createDataFrame([Row(i=1, s="aB")])

        def run(sql, fn=None):
            db = WarpDB(df=src, table_name="t", spark=spark)
            if fn is not None:
                db.register_udtf("spy_case", fn)
            return [tuple(r) for r in db.query_sql(sql).collect()]

        builder._UDTF_REGISTERED.pop(spark, None)
        with mock.patch.object(
            UDTFRegistration, "register", autospec=True, side_effect=UDTFRegistration.register
        ) as spy:
            for _ in range(2):
                run("SELECT ngram FROM split_ngrams(t.s, 1)")
            for _ in range(2):
                assert run("SELECT c FROM spy_case(t.s)", Upper.asDeterministic()) == [("AB",)]
            assert run("SELECT c FROM spy_case(t.s)", Lower.asDeterministic()) == [("ab",)]
        names = [c.args[1] for c in spy.call_args_list]
        assert names == ["__wdb_udtf_split_ngrams", "__wdb_udtf_spy_case", "__wdb_udtf_spy_case"]


class TestScalePlan:
    def test_source_filter_pushed_below_python_udtf(self, docs_db):
        """The deterministic marking is what lets Catalyst push source-
        column predicates below BatchEvalPythonUDTF into the scan — at
        100 TB the Python stage must only see the filtered rows."""
        out = docs_db.query_sql(
            "SELECT ngram FROM split_ngrams(documents.text, 2) WHERE doc_id = 1"
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        udtf_pos = plan.find("PythonUDTF")
        filter_pos = plan.find("Filter")
        assert udtf_pos != -1 and filter_pos != -1
        # deeper in the tree = later in the string: the Filter must be
        # BELOW (after) the UDTF node
        assert filter_pos > udtf_pos, plan


class TestErrorPaths:
    def test_unknown_table_function(self, docs_db):
        with pytest.raises(ValidationError, match="Unknown table function: nope"):
            docs_db.query_sql("SELECT x FROM nope(documents.text, 2)")

    def test_unqualified_first_arg(self, docs_db):
        with pytest.raises(ValidationError, match="qualified"):
            docs_db.query_sql("SELECT x FROM split_ngrams(text, 2)")

    def test_non_literal_tail_arg(self, docs_db):
        with pytest.raises(ValidationError, match="literal"):
            docs_db.query_sql("SELECT x FROM split_ngrams(documents.text, doc_id)")

    def test_unknown_source_table(self, spark):
        db = WarpDB(df=spark.createDataFrame([Row(a=1)]), table_name="t", spark=spark)
        db.attach("u", db.df)  # >1 table so lenient single-table fallback is off
        with pytest.raises(ValidationError, match="Unknown table: nosuch"):
            db.query_sql("SELECT x FROM split_ngrams(nosuch.text, 2)")

    def test_unknown_source_column(self, docs_db):
        with pytest.raises(ValidationError, match="Unknown column: documents.nosuch"):
            docs_db.query_sql("SELECT x FROM split_ngrams(documents.nosuch, 2)")

    def test_no_args(self, docs_db):
        with pytest.raises(ValidationError, match="requires a table.column"):
            docs_db.query_sql("SELECT x FROM split_ngrams()")


class TestJoinPosition:
    def test_udtf_as_join_source(self, docs_db):
        """A table function in JOIN position behaves like a derived
        table: its lateral result (source cols + generated cols) joins
        on the given condition, with alias-qualified access."""
        out = docs_db.query_sql(
            "SELECT d.doc_id, g.ngram FROM documents d "
            "JOIN split_ngrams(documents.text, 2) AS g ON d.doc_id = g.doc_id "
            "WHERE d.doc_id = 1 ORDER BY g.pos"
        )
        assert [r.ngram for r in out.collect()] == [
            "the quick", "quick brown", "brown fox",
        ]


class TestSentenceSplit:
    """sentence_split(text) — the second registered UDTF: multi-column
    lateral output (index, sentence, char span) with per-row running
    offset state."""

    def test_spans_reconstruct_source(self, spark):
        text = "One two. Three four. Five"
        db = WarpDB(
            df=spark.createDataFrame([Row(doc_id=1, text=text)]),
            table_name="documents", spark=spark,
        )
        out = db.query_sql(
            "SELECT sent_idx, sentence, char_start, char_end "
            "FROM sentence_split(documents.text) ORDER BY sent_idx"
        ).collect()
        assert [(r.sent_idx, r.sentence) for r in out] == [
            (0, "One two"), (1, "Three four"), (2, "Five"),
        ]
        # spans index the ORIGINAL text exactly
        for r in out:
            assert text[r.char_start:r.char_end] == r.sentence

    def test_null_no_rows_empty_one_empty_sentence(self, spark):
        db = WarpDB(
            df=spark.createDataFrame(
                [Row(doc_id=1, text=None), Row(doc_id=2, text="")]
            ),
            table_name="documents", spark=spark,
        )
        out = db.query_sql(
            "SELECT doc_id, sentence, char_start, char_end "
            "FROM sentence_split(documents.text)"
        ).collect()
        assert [(r.doc_id, r.sentence, r.char_start, r.char_end) for r in out] == [
            (2, "", 0, 0)
        ]

    def test_predicate_pushes_below_udtf(self, spark, sf_dir):
        """Source predicates must reach the scan below the Python stage
        (deterministic-marked UDTF), same as SplitNgrams."""
        db = WarpDB(f"{sf_dir}/documents.parquet", spark=spark, table_name="documents")
        plan = db.query_sql(
            "SELECT sentence FROM sentence_split(documents.text) WHERE doc_id % 25 = 0"
        )._jdf.queryExecution().executedPlan().toString()
        scan = [ln for ln in plan.split("\n") if "FileScan" in ln or "PushedFilters" in ln]
        assert any("doc_id" in ln for ln in scan), plan


class TestSentenceSplitProperties:
    def test_spans_partition_source_for_random_texts(self):
        """Property (no Spark needed — pure eval()): spans tile the
        original text exactly, separated by the literal '. '."""
        from hypothesis import given, strategies as st

        from warpdb_spark.functions import udtfs

        cls = getattr(udtfs.SentenceSplit, "func", udtfs.SentenceSplit)

        @given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200))
        def check(text):
            rows = list(cls().eval(text))
            assert rows, "non-null text must emit at least one sentence"
            # indices are dense, spans index the source, '. '.join round-trips
            assert [r[0] for r in rows] == list(range(len(rows)))
            for _, sent, start, end in rows:
                assert text[start:end] == sent
            assert ". ".join(r[1] for r in rows) == text

        check()
