"""Pure helpers of the scripts/ harnesses, checked without a session."""
from scripts.neardup_scale_check import N_TOK, family_token_expr
from scripts.oracle_check import result_cap


def test_oracle_check_result_cap_is_half_the_heap():
    assert result_cap("16g") == "8388608k"
    assert result_cap("3g") == "1572864k"
    assert result_cap("512m") == result_cap("512") == "262144k"
    assert result_cap("1GB") == "524288k"


def test_neardup_family_token_expr_matches_the_letter_template():
    # the expression the earlier replace('p', ...) templating produced
    # for the default fixture: the named placeholder must not change it
    pos = f"pmod(j + i, {N_TOK})"
    letter = ("CASE WHEN f % 2 = 0 THEN concat('t', f, '_', p) "
              "WHEN p = 0 THEN concat('x', f) "
              "ELSE concat('t', f - 1, '_', p) END")
    assert family_token_expr(pos) == letter.replace("p", pos)
    assert family_token_expr("q_pos").count("q_pos") == 3
