"""Properties of the shared SQL lexer (functions/sqllex.py): top-level
splitting, literal masking and bracket matching over generated SQL-ish
text with nested ``()``/``[]`` and both literal escapes."""

from hypothesis import given, strategies as st

from use_clickhouse_2_analyze_mysql_binlog_spark.functions.sqllex import (
    find_top_level,
    mask_literals,
    matching_close,
    split_top_level,
    unmask,
)

# literal bodies: separators and brackets inside, plus '' and \' escapes
_lit_piece = st.one_of(
    st.sampled_from(["a", " ", ",", "(", ")", "[", "]", "AND", "--"]),
    st.just("''"),
    st.just("\\'"),
    st.just("\\\\"),
)
literal = st.lists(_lit_piece, max_size=6).map(lambda ps: "'" + "".join(ps) + "'")
atom = st.one_of(
    st.from_regex(r"[a-z_][a-z0-9_]{0,4}", fullmatch=True).filter(
        lambda w: w != "and"
    ),
    st.integers(0, 99).map(str),
    literal,
)


def _nest(children):
    args = st.lists(children, min_size=0, max_size=3).map(", ".join)
    return st.one_of(
        st.tuples(st.from_regex(r"[a-z]{1,4}", fullmatch=True), args).map(
            lambda t: f"{t[0]}({t[1]})"
        ),
        args.map(lambda a: f"[{a}]"),
        st.tuples(children, children).map(lambda t: f"{t[0]} + {t[1]}"),
    )


item = st.recursive(atom, _nest, max_leaves=12)
# an item whose outermost token is a bracket pair, for matching_close
_args = st.lists(item, max_size=3).map(", ".join)
bracketed = st.one_of(
    _args.map(lambda a: f"f({a})"),
    _args.map(lambda a: f"({a})"),
    _args.map(lambda a: f"[{a}]"),
)


@given(st.lists(item, min_size=1, max_size=5))
def test_split_top_level_returns_the_items(items):
    assert split_top_level(",".join(items)) == items
    assert split_top_level(" AND ".join(items), r"AND\b") == [
        (" " if i else "") + x + (" " if i < len(items) - 1 else "")
        for i, x in enumerate(items)
    ]


@given(
    st.lists(
        st.one_of(item, st.text("ab ,()[]'\\;\n", max_size=8)), max_size=6
    )
)
def test_unmask_inverts_mask_literals(parts):
    s = " ".join(parts)
    masked, lits = mask_literals(s)
    assert unmask(masked, lits) == s


@given(item, bracketed, item)
def test_matching_close_finds_the_generated_closer(pre, body, post):
    s = f"{pre} {body} {post}"
    opener = len(pre) + 1 + body.startswith("f")
    assert matching_close(s, opener) == len(pre) + 1 + len(body)


def test_keywords_are_dot_guarded_and_literal_blind():
    s = "SELECT t.from, 'x FROM y', [a, (b FROM c)] FROM tbl"
    hits = [m.start() for m in find_top_level(s, r"FROM\b")]
    assert hits == [s.rindex("FROM")]
    # a top-level scan started inside a bracket ends at its closer
    inner = s.index("(b") + 1
    assert [m.group() for m in find_top_level(s, r"FROM\b|[)\]]", inner)] == [
        "FROM", ")",
    ]
