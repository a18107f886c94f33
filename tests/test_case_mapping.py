"""Case mapping in prepared sessions: ``lower``/``upper`` compile to the
JVM's case mapping (``CollationSupport.Lower.execBinary``), not ICU's,
on a session ``prepare`` configured and on the siblings the library
plans in (a ``ManagedQuery``'s session, a loop session). The two
mappings agree on a mixed-script sample, and a JVM whose default locale
makes them differ keeps ICU."""

from __future__ import annotations

import pytest

from trisk_spark.controlplane import ManagedQuery
from trisk_spark.session import ICU_CASE_CONF, loop_session, prepare, sibling_session

SAMPLE = ["ÜNÏCODE Straße", "ΟΔΟΣ ΣΑΣ", "İstanbul", "ПРИВЕТ", "ǅ ǈ"]


def _codegen(sp) -> str:
    """``explain("codegen")`` of a lower/upper projection, generated
    under ``sp``'s conf: the expression reads the case-mapping conf of
    the thread's active session when it generates code, and the explain
    path, unlike execution, does not make the plan's session active."""
    sessions = sp._jvm.org.apache.spark.sql.SparkSession
    before = sessions.getActiveSession()
    sessions.setActiveSession(sp._jsparkSession)
    try:
        df = sp.range(3).selectExpr("lower(upper(concat('AbC', cast(id as string))))")
        return sp._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    finally:
        if before.isDefined():
            sessions.setActiveSession(before.get())
        else:
            sessions.clearActiveSession()


@pytest.mark.parametrize(
    "session",
    [
        lambda spark: prepare(spark.newSession()),
        lambda spark: ManagedQuery(spark, "case-mapping", lambda sp, plan: None).session,
        lambda spark: loop_session(spark, 2),
    ],
    ids=["prepared", "managed_query", "loop_session"],
)
def test_case_mapping_compiles_to_the_jvm_path(spark, session):
    code = _codegen(session(spark))
    assert "CollationSupport.Lower.execBinary(" in code
    assert "execBinaryICU" not in code


def test_jvm_and_icu_case_mappings_agree(spark):
    def mapped(icu: str) -> list[tuple]:
        sp = sibling_session(spark, {ICU_CASE_CONF: icu})
        # the repartition keeps the projection out of the optimizer's
        # local-relation folding: it runs as generated code
        df = sp.createDataFrame([(s,) for s in SAMPLE], "s string").repartition(2)
        return sorted(tuple(r) for r in df.selectExpr("s", "lower(s)", "upper(s)").collect())

    icu = mapped("true")
    assert [r[0] for r in icu] == sorted(SAMPLE)
    assert mapped("false") == icu


def test_default_locale_where_the_mappings_differ_keeps_icu(spark):
    # under el, ICU's upper() drops Greek accents and the JVM's keeps them
    locale = spark._jvm.java.util.Locale
    before = locale.getDefault()
    locale.setDefault(locale.forLanguageTag("el"))
    try:
        # a sibling starts from the caller's conf: ICU off
        sp = prepare(sibling_session(spark, {}))
        assert sp.conf.get(ICU_CASE_CONF) == "true"
    finally:
        locale.setDefault(before)
