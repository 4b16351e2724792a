"""HTML -> text extraction: tag/entity/boilerplate stripping truth
tests, adversarial/malformed markup, fuzz never-raises, and the
single-Python-stage plan claim."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from irivermetrics_offpaper.operators import htmltext


def text_of(html, **kw):
    return htmltext.extract_text(html, **kw)[0]


# ------------------------------------------------------------- parsing

def test_basic_blocks_and_inline():
    h = "<html><body><p>Hello <b>bold</b> world</p><p>Second</p></body></html>"
    assert text_of(h) == "Hello bold world\nSecond"


def test_br_and_headers_break():
    h = "<h1>Title</h1>Line one<br>Line two<div>boxed</div>tail"
    assert text_of(h) == "Title\nLine one\nLine two\nboxed\ntail"


def test_inline_tags_do_not_break():
    h = "<p>a <span>b</span> <em>c</em> <strong>d</strong></p>"
    assert text_of(h) == "a b c d"


def test_script_style_dropped():
    h = ("<p>keep</p><script>var x = '<p>not text</p>';</script>"
         "<style>p { color: red; }</style><noscript>nope</noscript>"
         "<p>also keep</p>")
    assert text_of(h) == "keep\nalso keep"


def test_script_case_insensitive_and_attrs():
    h = '<p>aa</p><SCRIPT type="text/javascript">if (a < b) {}</SCRIPT><p>bb</p>'
    assert text_of(h) == "aa\nbb"


def test_comments_doctype_cdata():
    h = ("<!DOCTYPE html><!-- a comment with <p>fake</p> -->"
         "<p>real</p><![CDATA[ raw <stuff> ]]><?php echo 1; ?>")
    assert text_of(h) == "real"


def test_attribute_with_gt_in_quotes():
    h = '<p title="a > b">content</p>'
    assert text_of(h) == "content"


def test_whitespace_collapse():
    h = "<p>  lots\n\t of   space  </p>"
    assert text_of(h) == "lots of space"


# ------------------------------------------------------------ entities

def test_named_entities():
    assert text_of("<p>a &amp; b &lt;tag&gt; &quot;q&quot;</p>") \
        == 'a & b <tag> "q"'
    assert text_of("<p>caf&eacute; &mdash; &hellip;</p>") == "café — …"


def test_numeric_entities():
    assert text_of("<p>&#65;&#x42;&#x1F600;</p>") == "AB\U0001f600"


def test_bad_entities_literal():
    assert text_of("<p>AT&T and &unknownent; and &#xD800; and &#;</p>") \
        == "AT&T and &unknownent; and &#xD800; and &#;"


def test_nbsp_is_space():
    assert text_of("<p>a&nbsp;&nbsp;b</p>") == "a b"


# --------------------------------------------------------- boilerplate

def test_nav_menu_dropped_by_link_density():
    h = ("<nav><a href='/'>Home</a> <a href='/a'>About</a> "
         "<a href='/c'>Contact</a></nav>"
         "<p>This paragraph is the actual article content with enough "
         "substance to keep, and it has <a href='x'>one link</a> only.</p>"
         "<footer><a href='/t'>Terms</a> | <a href='/p'>Privacy</a></footer>")
    text, kept, dropped = htmltext.extract_text(h)
    assert "actual article content" in text
    assert "Home" not in text and "Privacy" not in text
    assert kept == 1 and dropped == 2


def test_min_block_chars():
    h = "<p>x</p><p>a real sentence here</p>"
    assert text_of(h, min_block_chars=2) == "a real sentence here"
    assert text_of(h, min_block_chars=1) == "x\na real sentence here"


# ----------------------------------------------------------- malformed

@pytest.mark.parametrize("h,want", [
    ("plain text no tags", "plain text no tags"),
    ("<p>unclosed paragraph", "unclosed paragraph"),
    # '<' + letter opens a tag (HTML5 tokenizer rule): '<b math' is a
    # truncated bold tag, '< b' is literal text
    ("a < b and a<b math", "a < b and a"),
    ("<p>truncated <!-- comment never ends", "truncated"),
    ("<p>truncated <script>never closed", "truncated"),
    ("<p>tag never closes <a href='x", "tag never closes"),
    ("</div></div>stray closers", "stray closers"),
    ("<<<>>>", "<<<>>>"),
    ("", ""),
])
def test_malformed_never_raises(h, want):
    assert text_of(h, min_block_chars=1) == want


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=st.sampled_from("<>/!-&#;abp \"'="), max_size=80))
def test_fuzz_never_raises(s):
    text, kept, dropped = htmltext.extract_text(s)
    assert isinstance(text, str) and kept >= 0 and dropped >= 0


@settings(max_examples=60, deadline=None)
@given(st.text(max_size=120))
def test_fuzz_unicode_never_raises(s):
    htmltext.extract_text(s)


# --------------------------------------------------------------- spark

def test_spark_extraction_and_plan(spark):
    rows = [
        (0, "<p>Hello <b>world</b></p><script>x</script>"),
        (1, None),
        (2, "<nav><a href='/'>Home</a> <a href='/a'>About</a></nav>"
            "<p>Real content paragraph that is long enough.</p>"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, html string")
    out = htmltext.with_html_text(df)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[0]["text"] == "Hello world" and got[0]["html_error"] is None
    assert got[1]["text"] is None and got[1]["html_error"] == "null"
    assert got[2]["text"] == "Real content paragraph that is long enough."
    assert got[2]["html_blocks_dropped"] == 1

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1  # exactly one Python stage
    assert "BatchEvalPython" not in plan


def test_spark_output_collision_raises(spark):
    df = spark.createDataFrame([(0, "<p>x</p>", "already")],
                               "doc_id int, html string, text string")
    with pytest.raises(ValueError):
        htmltext.with_html_text(df)
