"""PII redaction: cross-engine (Spark Java regex vs DuckDB RE2)
equality on counts AND the full redacted text, plus edge-case pins.

The operator chains sequential regexp_replace rules, so the oracle
must apply the SAME rules in the SAME order with the 'g' flag; the
rules are alternation-free / lookaround-free specifically so the two
regex engines agree — this test is the pin for that claim.
"""

import duckdb
import pandas as pd
import pytest

from irivermetrics_offpaper.operators import textops

DOCS = [
    ("d01", "contact me at alice.smith+tag@example.co.uk or bob@sub.domain.org today"),
    ("d02", "server at 192.168.1.254 and 8.8.8.8; version 1.2.3 is not an ip? 1.2.3.4 is"),
    ("d03", "ssn 123-45-6789 phone 555-123-4567 and 555.987.6543 and 555 111 2222"),
    ("d04", "no pii here, just prose with numbers 12345 and a date 2018-01-16"),
    ("d05", ""),
    ("d06", "edge: a@b.co starts, ends with 10.0.0.1"),
    ("d07", "unicode café über münchen@beispiel.de und 127.0.0.1 — fertig"),
    ("d08", "overlap trap: mail-to 1.2.3.4@host.com then bare 1.2.3.4"),
    ("d09", "not-a-phone 12-34-5678, not-an-ssn 1234-56-7890, almost 999-99-9999"),
    ("d10", "multi a@b.com c@d.net 1.1.1.1 2.2.2.2 111-22-3333 444-55-6666"),
]


@pytest.fixture(scope="module")
def redacted(spark):
    df = spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    return {r["doc_id"]: r for r in textops.with_pii_redaction(df).collect()}


def test_pii_matches_duckdb(redacted):
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    cur, sel = "text", []
    for kind, pat, tok in textops.PII_RULES:
        sel.append(f"len(regexp_extract_all({cur}, '{pat}')) AS n_pii_{kind}")
        cur = f"regexp_replace({cur}, '{pat}', '{tok}', 'g')"
    oracle = con.sql(
        f"select doc_id, {', '.join(sel)}, {cur} as redacted_text from docs"
    ).df().set_index("doc_id")
    for doc_id, want in oracle.iterrows():
        got = redacted[doc_id]
        assert got["redacted_text"] == want["redacted_text"], doc_id
        for kind, _, _ in textops.PII_RULES:
            assert got[f"n_pii_{kind}"] == want[f"n_pii_{kind}"], (doc_id, kind)


def test_pii_pins(redacted):
    # email host that looks like an IP is consumed by the email rule,
    # the later bare IP still caught
    assert redacted["d08"]["redacted_text"] == "overlap trap: mail-to <EMAIL> then bare <IP>"
    assert redacted["d08"]["n_pii_email"] == 1 and redacted["d08"]["n_pii_ipv4"] == 1
    # all three phone separators; ssn not re-counted as phone
    d3 = redacted["d03"]
    assert d3["n_pii_phone"] == 3 and d3["n_pii_ssn"] == 1
    assert d3["redacted_text"] == "ssn <SSN> phone <PHONE> and <PHONE> and <PHONE>"
    # version strings aren't IPs, dates aren't SSNs/phones
    assert redacted["d02"]["n_pii_ipv4"] == 3
    assert "1.2.3 is not an ip" in redacted["d02"]["redacted_text"]
    assert not redacted["d04"]["has_pii"] and not redacted["d05"]["has_pii"]
    assert redacted["d09"]["has_pii"]  # 999-99-9999 is SSN-shaped
    assert redacted["d09"]["n_pii_ssn"] == 1 and redacted["d09"]["n_pii_phone"] == 0
    # unicode text around matches survives byte-identically; the
    # ASCII-only local-part rule redacts the ASCII tail of a non-ASCII
    # address (both engines agree — precision-first, documented)
    assert redacted["d07"]["redacted_text"] == "unicode café über mü<EMAIL> und <IP> — fertig"
    d10 = redacted["d10"]
    assert (d10["n_pii_email"], d10["n_pii_ipv4"], d10["n_pii_ssn"]) == (2, 2, 2)


def test_pii_plan_is_jvm_only(spark):
    df = spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    plan = textops.with_pii_redaction(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pii_random_corpus_matches_python_re(spark):
    """Third-engine check: the same rule chain applied with Python re
    (leftmost-first, like Java) over a generated corpus of adversarial
    fragments must match Spark byte-for-byte — 200 docs in one job."""
    import random
    import re

    rng = random.Random(42)
    frags = ["user@example.com", "10.0.0.1", "123-45-6789", "555-123-4567",
             "a@b.co", "1.2.3.4@host.org", "999.999.999.999", "1.2.3",
             "12-34-5678", "v1.2.3.4beta", "x@y", "@", ".", "-", " ",
             "text", "123", "café", "\t", "\n", "word.word", "+1 555 111 2222"]
    docs = [(f"r{i}", " ".join(rng.choices(frags, k=rng.randint(0, 12))))
            for i in range(200)]

    def py_redact(text):
        counts, cur = [], text
        for _, pat, tok in textops.PII_RULES:
            counts.append(len(re.findall(pat, cur)))
            cur = re.sub(pat, tok, cur)
        return cur, counts

    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    got = {r["doc_id"]: r for r in textops.with_pii_redaction(df).collect()}
    for doc_id, text in docs:
        want_text, want_counts = py_redact(text)
        assert got[doc_id]["redacted_text"] == want_text, (doc_id, text)
        for (kind, _, _), want_n in zip(textops.PII_RULES, want_counts):
            assert got[doc_id][f"n_pii_{kind}"] == want_n, (doc_id, kind)
