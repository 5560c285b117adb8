"""Each workload's output check accepts the right answer and rejects a
planted wrong one."""

from __future__ import annotations

from perfbench import checks

IDS = [f"img_{i}" for i in range(6)]
# two planted clusters {0,1,2} and {3,4}; 5 is a singleton
RIGHT = [
    ("img_0", "img_0"), ("img_1", "img_0"), ("img_2", "img_0"),
    ("img_3", "img_3"), ("img_4", "img_3"), ("img_5", "img_5"),
]
GOLDEN = [("img_0", "img_1"), ("img_0", "img_2"), ("img_1", "img_2"),
          ("img_3", "img_4")]


def test_images_check_accepts_right_answer():
    assert checks.check_images(RIGHT, set(IDS), GOLDEN) == []


def test_images_check_rejects_split_planted_pair():
    wrong = RIGHT[:4] + [("img_4", "img_4")] + RIGHT[5:]
    problems = checks.check_images(wrong, set(IDS), GOLDEN)
    assert any("recall" in p for p in problems)


def test_images_check_rejects_double_assignment():
    problems = checks.check_images(RIGHT + [("img_5", "img_0")], set(IDS), GOLDEN)
    assert any("more than once" in p for p in problems)


def test_images_check_rejects_missing_image():
    problems = checks.check_images(RIGHT[:-1], set(IDS), GOLDEN)
    assert any("too few" in p for p in problems)


def test_caption_check_accepts_equal_and_rejects_relabel():
    ref = dict(RIGHT)
    assert checks.check_caption_stream(dict(ref), ref) == []
    wrong = dict(ref, img_2="img_2")
    assert checks.check_caption_stream(wrong, ref) != []


def test_caption_check_rejects_missing_row():
    ref = dict(RIGHT)
    wrong = {k: v for k, v in ref.items() if k != "img_4"}
    assert checks.check_caption_stream(wrong, ref) != []


LANDED = ["v0", "v1", "v0~1", "v2"]
RESENT = {"v0~1"}
VERDICTS = [("v0", "novel"), ("v1", "novel"), ("v0~1", "ref_dup"),
            ("v2", "batch_dup")]


def test_media_check_accepts_right_answer():
    assert checks.check_media_stream(VERDICTS, LANDED, RESENT) == []


def test_media_check_rejects_unflagged_resend():
    wrong = VERDICTS[:2] + [("v0~1", "novel")] + VERDICTS[3:]
    problems = checks.check_media_stream(wrong, LANDED, RESENT)
    assert any("not flagged" in p for p in problems)


def test_media_check_rejects_second_verdict():
    problems = checks.check_media_stream(
        VERDICTS + [("v1", "ref_dup")], LANDED, RESENT
    )
    assert any("more than one verdict" in p for p in problems)


def test_media_check_rejects_missing_verdict():
    problems = checks.check_media_stream(VERDICTS[1:], LANDED, RESENT)
    assert any("miss 1 landed" in p for p in problems)
