import pytest




def test_main_content_extract(engine):
    """MainContentExtract (round-11): prose survives, link farms /
    short blocks / script / style / comments are dropped, entities
    decode (&amp; last), NULL html passes through NULL, params
    rendered."""
    import pytest as _pytest
    html = ("<html><head><style>.n{color:red}</style>"
            "<script>var n=1; if (n<2) {}</script></head><body>"
            "<div><a href=1>Home</a> <a href=2>About</a> "
            "<a href=3>Contact</a> nav</div>"
            "<p>The quick brown fox jumps over the lazy dog near "
            "the <b>river</b> bank &amp;amp; beyond.</p>"
            "<div>tiny</div>"
            "<!-- comment words that must not appear -->"
            "</body></html>")
    rows = engine.execute(f"""
    select 1 as id, '{html}' as html as mce_t;
    run mce_t as MainContentExtract.`` as mce_o;
    select * from mce_o as o;
    """).collect()
    r = rows[0]
    assert "quick brown fox" in r["main_content"]
    assert "river bank" in r["main_content"]          # inline tag gone
    # &amp;amp; decodes ONE level (amp last => literal '&amp;')
    assert "&amp;" in r["main_content"]
    for gone in ("Home", "tiny", "var n=1", "comment words",
                 "color:red"):
        assert gone not in r["main_content"], (gone, r["main_content"])
    assert r["n_blocks_kept"] == 1 and r["n_blocks_total"] >= 2
    # a prose block that is mostly links is still dropped (density,
    # not mere presence): 3 anchors * 5 >= 12 words
    dense = ("<p><a href=1>one</a> <a href=2>two</a> "
             "<a href=3>three</a> four five six seven eight nine "
             "ten eleven twelve</p>")
    rows = engine.execute(f"""
    select 1 as id, '{dense}' as html as mce_d;
    run mce_d as MainContentExtract.`` as mce_do;
    select * from mce_do as o;
    """).collect()
    assert rows[0]["n_blocks_kept"] == 0, rows
    # ...and survives once word count outweighs the anchors
    sparse = ("<p><a href=1>one</a> and then fifteen more plain "
              "words follow here to push the ratio over the line "
              "easily</p>")
    rows = engine.execute(f"""
    select 1 as id, '{sparse}' as html as mce_d2;
    run mce_d2 as MainContentExtract.`` as mce_do2;
    select * from mce_do2 as o;
    """).collect()
    assert rows[0]["n_blocks_kept"] == 1, rows
    # NULL pass-through
    rows = engine.execute("""
    select 1 as id, cast(null as string) as html as mce_n;
    run mce_n as MainContentExtract.`` as mce_no;
    select * from mce_no as o;
    """).collect()
    assert rows[0]["main_content"] is None
    assert rows[0]["n_blocks_total"] is None
    # thresholds are params
    rows = engine.execute("""
    select 1 as id, '<p>just four words here</p>' as html as mce_p;
    run mce_p as MainContentExtract.`` where minWords="3" as mce_po;
    select * from mce_po as o;
    """).collect()
    assert rows[0]["n_blocks_kept"] == 1
    for bad, msg in [('inputCol="nope"', "inputCol"),
                     ('minWords="0"', "minWords"),
                     ('wordsPerLink="-1"', "wordsPerLink"),
                     # review findings, round 11: overwrite-in-place
                     # used to be a raw AnalysisException; a count-
                     # column collision silently destroyed the content
                     ('outputCol="html"', "overwrite its own source"),
                     ('outputCol="n_blocks_kept"', "count columns"),
                     ('outputCol="n_blocks_total"', "count columns")]:
        with _pytest.raises(ValueError, match=msg):
            engine.execute(f"""
            select 1 as id, 'x' as html as mce_e;
            run mce_e as MainContentExtract.`` where {bad} as x;
            """)


@pytest.mark.parametrize("et,scratch", [
    ("C4QualityFilter", "__c4_lines"),
    ("C4QualityFilter", "__c4_good"),
    ("GopherQualityFilter", "__gq_words"),
    ("GopherQualityFilter", "__gq_lines"),
])
def test_quality_filter_scratch_collision_guard(engine, et, scratch):
    """An input column named like a quality filter's scratch column is
    a rendered error (the DeterministicShard guard), not a silent
    overwrite-then-drop of the caller's column."""
    with pytest.raises(ValueError,
                       match=f"{et}: input column\\(s\\) \\['{scratch}'\\] "
                             f"collide with scratch columns"):
        engine.execute(f"""
        select 'Some text here.' as text, 1 as {scratch} as qsc;
        run qsc as {et}.`` as qsc_out;
        """)
