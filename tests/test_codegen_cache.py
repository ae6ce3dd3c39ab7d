"""Spark's codegen class cache holds the engine's query working set:
``get_spark`` sessions size ``spark.sql.codegen.cache.maxEntries`` (a
static conf) and keep stage ids out of generated class names, so that
repeated queries reuse their generated classes instead of compiling them
again (wingfoil_spark/session.py)."""

from wingfoil_spark import session

#: distinct generated projections per pass: more than Spark's default
#: 100-entry cache holds, about one ``llm_batch`` pass's working set
N_PROJECTIONS = 150


def test_repeated_projections_reuse_their_generated_classes(spark, codegen_compiles):
    """Rebuild and run the same 150 distinct projections twice: the first
    pass compiles each one, the second finds all of them cached. With
    the 100-entry default, the LRU evicts every class before its repeat
    and the second pass compiles them all again."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session._CODEGEN_CACHE_ENTRIES
    )

    def run_pass():
        for i in range(N_PROJECTIONS):
            spark.range(10).selectExpr(f"id * {i} + id AS v").collect()

    run_pass()
    before = codegen_compiles()
    run_pass()
    assert codegen_compiles() - before <= 2


def test_one_stage_body_compiles_once_under_any_stage_id(spark, codegen_compiles):
    """Three copies of one projection in a union are three codegen
    stages with one body, and compile what one copy does: with the stage
    id out of the class name they share one class. With it, each stage
    compiled its own, and since AQE numbers stages in the order it plans
    them, a rerun that planned them in another order compiled again."""

    def compiles(factor, copies):
        v = spark.range(10).selectExpr(f"id * {factor} + id AS v")
        before = codegen_compiles()
        for _ in range(copies - 1):
            v = v.unionAll(spark.range(10).selectExpr(f"id * {factor} + id AS v"))
        v.collect()
        return codegen_compiles() - before

    assert compiles(7907, 3) == compiles(7919, 1)
