"""Text quality signals: zlib compression-ratio redundancy gate
(textops.with_compression_ratio)."""

def test_compression_ratio_signal(spark):
    """zlib-ratio redundancy signal: prose sits mid-range, repetition
    collapses toward 0, random bytes stay ~1; exact parity with a
    direct zlib computation."""
    import zlib

    from irivermetrics_offpaper.operators import textops

    import random as _r
    rng = _r.Random(5)
    prose = ("The quick brown fox jumps over the lazy dog near the "
             "river bank while herons wade in the shallows. ") * 8
    spam = "buy cheap now " * 200
    rand = "".join(chr(0x20 + rng.randrange(94)) for _ in range(2000))
    rows = [("prose", prose), ("spam", spam), ("rand", rand),
            ("empty", ""), ("null", None)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: r.compression_ratio
           for r in textops.with_compression_ratio(df).collect()}
    for key, text in rows[:3]:
        raw = text.encode()
        assert got[key] == round(len(zlib.compress(raw, 6)) / len(raw), 6)
    assert got["spam"] < 0.05 < got["prose"] < 0.5 < got["rand"]
    assert got["empty"] is None and got["null"] is None
