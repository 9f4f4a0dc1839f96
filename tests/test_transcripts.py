from data_sync_tool_spark.operators.transcripts import (
    assemble_transcripts,
    transcript_dup_groups,
)


def _final(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )


def test_assemble_orders_turns_without_a_window(spark):
    # turns arrive shuffled across partitions; assembly must restore order
    df = _final(
        spark,
        [
            ("c1", 2, "assistant", "fine"),
            ("c1", 0, "user", "hi"),
            ("c1", 1, "assistant", "hello"),
            ("c2", 0, "user", "solo"),
        ],
    ).repartition(4)
    got = {r["conv_id"]: (r["n_turns"], r["transcript"]) for r in assemble_transcripts(df).collect()}
    assert got == {
        "c1": (3, "user: hi\nassistant: hello\nassistant: fine"),
        "c2": (1, "user: solo"),
    }


def test_assemble_handles_null_role_and_text(spark):
    df = _final(spark, [("c1", 0, None, "x"), ("c1", 1, "user", None)])
    got = assemble_transcripts(df).collect()[0]["transcript"]
    assert got == ": x\nuser: "


def test_dup_groups_fingerprint_exact_transcripts(spark):
    df = _final(
        spark,
        [
            ("a", 0, "user", "hi"),
            ("a", 1, "bot", "yo"),
            ("b", 0, "user", "hi"),
            ("b", 1, "bot", "yo"),
            ("c", 0, "user", "hi"),  # same first turn but shorter: distinct
        ],
    )
    got = {(r["conv_id"], r["canonical_id"]) for r in transcript_dup_groups(assemble_transcripts(df)).collect()}
    assert got == {("a", "a"), ("b", "a")}


def test_turn_boundaries_are_semantic(spark):
    # "hi\nbot: yo" as ONE turn renders identically to two separate turns,
    # but the framed fingerprint must keep them distinct
    merged = assemble_transcripts(
        _final(
            spark,
            [("x", 0, "user", "hi\nbot: yo"), ("y", 0, "user", "hi"), ("y", 1, "bot", "yo")],
        )
    )
    rows = {r["conv_id"]: r for r in merged.collect()}
    assert rows["x"]["transcript"] == rows["y"]["transcript"]
    assert rows["x"]["fp"] != rows["y"]["fp"]
    assert transcript_dup_groups(merged).count() == 0


def test_role_text_boundary_cannot_be_forged(spark):
    # role "a: b" + text "c" vs role "a" + text "b: c" — same rendered line
    a = assemble_transcripts(_final(spark, [("x", 0, "a: b", "c")]))
    b = assemble_transcripts(_final(spark, [("y", 0, "a", "b: c")]))
    fa, fb = a.collect()[0], b.collect()[0]
    assert fa["transcript"] == fb["transcript"]
    assert fa["fp"] != fb["fp"]
