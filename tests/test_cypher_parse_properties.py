"""Property tests (hypothesis) for the façade's node/property parsing.

r6 ADVICE: the props block and the top-level splitters must be
quote-aware — '}' ',' '{' ')' ':' inside string literals must never
terminate a block or split a pair. These tests generate property maps,
render them as Cypher text, and assert the parser round-trips them
exactly. Pure string layer, no SparkSession: runs in milliseconds."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from docker_neo4j_spark.cypher.lexer import parse_pattern, parse_props, split_top

# string values draw from an alphabet that INCLUDES the structural
# characters the scanner must not trip on; quotes/backslash excluded
# (escape sequences are outside the supported subset)
_tricky_text = st.text(
    alphabet=st.sampled_from(list("abcZ9 {}[](),:|.<>=-+")), min_size=0, max_size=12
)
_ident = st.from_regex(r"[a-z][a-z0-9_]{0,6}", fullmatch=True)
_scalar = st.one_of(
    _tricky_text,
    st.integers(min_value=-10**6, max_value=10**6),
    st.booleans(),
    st.none(),
)
_value = st.one_of(
    _scalar,
    st.lists(st.integers(min_value=0, max_value=99), max_size=4),
    st.dictionaries(_ident, st.integers(min_value=0, max_value=99), max_size=3),
)
_props = st.dictionaries(_ident, _value, min_size=0, max_size=5)


def _render_value(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return f"'{v}'"
    if isinstance(v, list):
        return "[" + ", ".join(_render_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(f"{k}: {_render_value(x)}" for k, x in v.items()) + "}"
    return repr(v)


def _render_props(d: dict) -> str:
    return "{" + ", ".join(f"{k}: {_render_value(v)}" for k, v in d.items()) + "}"


@given(_props, st.one_of(st.none(), _ident), st.one_of(st.none(), _ident))
@settings(max_examples=300, deadline=None)
def test_node_pattern_props_roundtrip(props, var, label):
    """(var:Label {props}) → the lexer's parse_pattern recovers exactly
    the generated var, label, and property map (r8: token stream, was
    _NODE_RE + _parse_props)."""
    src = "(" + (var or "")
    if label:
        src += f":{label}"
    if props or not (var or label):
        src += " " + _render_props(props)
    src += ")"
    elems, rest = parse_pattern(src)
    assert len(elems) == 1 and rest == "", f"scan stopped early in {src!r}"
    node = elems[0]
    assert node.var == var
    assert node.label == label
    assert node.props == props


@given(_props)
@settings(max_examples=200, deadline=None)
def test_node_parse_never_spills_past_pattern(props):
    """In a longer statement the node parse must stop at ITS closing
    paren even when property strings contain ')' or '}' — and the rel
    that follows parses off the same token stream."""
    src = f"(n:dog {_render_props(props)})-[:KNOWS]->(m:cat) RETURN n"
    elems, rest = parse_pattern(src)
    assert [type(e).__name__ for e in elems] == ["Node", "Rel", "Node"]
    assert elems[0].props == props
    assert elems[1].rel_type == "KNOWS"
    assert rest == "RETURN n"


@given(_props)
@settings(max_examples=200, deadline=None)
def test_rel_pattern_props_roundtrip(props):
    """[r:T {props}] → the rel's property map round-trips exactly
    (r7 ADVICE class: rel props parse with the same rigor as node
    props; now shared token-stream code by construction)."""
    src = f"(a)-[r:T {_render_props(props)}]->(b)"
    elems, rest = parse_pattern(src)
    assert rest == ""
    assert elems[1].props == props


@given(_props)
@settings(max_examples=150, deadline=None)
def test_split_top_never_splits_inside_values(props):
    """split_top(',') at depth 0 must not split inside the props block,
    whatever structural characters its strings contain."""
    body = f"(n {_render_props(props)})"
    parts = split_top(f"{body} , x", ",")
    assert len(parts) == 2 and parts[0].strip() == body

    assert parse_props(None) == {} and parse_props("  ") == {}


def test_props_with_structural_chars_end_to_end(spark):
    """One full CREATE → MATCH → RETURN pass through the Session with
    values containing '}', ',', ')' and ':' — the exact shapes the
    regex used to break on."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (a:doc {name:'a}b', note:'x,y', ref:'(1):2'})")
    r = s.run(
        "MATCH (a:doc {name:'a}b'}) RETURN a.note AS note, a.ref AS ref"
    ).collect()
    assert [(row["note"], row["ref"]) for row in r] == [("x,y", "(1):2")]


def test_keyword_in_string_literal_does_not_split_clauses(spark):
    """The r8 keyword-finder port: RETURN/WHERE/DELETE inside a string
    literal must not be treated as a clause boundary (the regex scanners
    this replaces would split there)."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (d:Trap {name: 'keep WHERE RETURN DELETE me', kind: 'x'})")
    out = s.run(
        "MATCH (d:Trap) WHERE d.kind = 'x' "
        "RETURN d.name AS name, ' WHERE RETURN LIMIT 3 ' AS trap"
    ).collect()
    assert len(out) == 1
    assert out[0]["name"] == "keep WHERE RETURN DELETE me"
    assert out[0]["trap"] == " WHERE RETURN LIMIT 3 "


def test_find_keyword_skips_quotes_and_brackets():
    from docker_neo4j_spark.cypher.lexer import find_keyword, split_keyword

    assert find_keyword("RETURN 'no WHERE here'", "WHERE") is None
    assert find_keyword("WHERE size([x IN l WHERE x]) > 0", "WHERE") == (0, 5)
    assert split_keyword("a OPTIONAL MATCH b 'OPTIONAL MATCH' c", "OPTIONAL", "MATCH") == [
        "a ",
        " b 'OPTIONAL MATCH' c",
    ]
