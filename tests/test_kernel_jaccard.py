"""Golden tests for the Jaccard kernel — expectations copied from the
reference suite (/root/reference/tests/test_jaccard_drain.py)."""

import pytest

from drain3_spark.core.kernel import TemplateBank
from drain3_spark.core.kernel_jaccard import JaccardBank

SSH_LINES = [
    "Dec 10 07:07:38 LabSZ sshd[24206]: input_userauth_request: invalid user test9 [preauth]",
    "Dec 10 07:08:28 LabSZ sshd[24208]: input_userauth_request: invalid user webmaster [preauth]",
    "Dec 10 09:12:32 LabSZ sshd[24490]: Failed password for invalid user ftpuser from 0.0.0.0 port 62891 ssh2",
    "Dec 10 09:12:35 LabSZ sshd[24492]: Failed password for invalid user pi from 0.0.0.0 port 49289 ssh2",
    "Dec 10 09:12:44 LabSZ sshd[24501]: Failed password for invalid user ftpuser from 0.0.0.0 port 60836 ssh2",
    "Dec 10 07:28:03 LabSZ sshd[24245]: input_userauth_request: invalid user pgadmin [preauth]",
]


def test_shorter_than_depth():
    # reference tests/test_jaccard_drain.py:11-28
    bank = JaccardBank(depth=4)
    assert bank.ingest("hello")["change_type"] == "cluster_created"
    assert bank.ingest("hello")["change_type"] == "none"
    assert bank.ingest("otherword")["change_type"] == "cluster_created"
    assert len(bank.registry) == 2


def test_ssh_corpus_default():
    # reference tests/test_jaccard_drain.py:30-61
    expected = [
        "",
        "Dec 10 07:07:38 LabSZ sshd[24206]: input_userauth_request: invalid user test9 [preauth]",
        "Dec 10 <*> LabSZ <*> input_userauth_request: invalid user <*> [preauth]",
        "Dec 10 09:12:32 LabSZ sshd[24490]: Failed password for invalid user ftpuser from 0.0.0.0 port 62891 ssh2",
        "Dec 10 <*> LabSZ <*> Failed password for invalid user <*> from 0.0.0.0 port <*> ssh2",
        "Dec 10 <*> LabSZ <*> Failed password for invalid user <*> from 0.0.0.0 port <*> ssh2",
        "Dec 10 <*> LabSZ <*> input_userauth_request: invalid user <*> [preauth]",
        "",
    ]
    bank = JaccardBank()
    got = [bank.ingest(line)["template_mined"] for line in [""] + SSH_LINES + ["  "]]
    assert got == expected
    assert bank.total_assigned() == 8


def test_ssh_corpus_sim_75():
    # reference tests/test_jaccard_drain.py:63-103
    expected = [
        "",
        "Dec 10 07:07:38 LabSZ sshd[24206]: input_userauth_request: invalid user test9 [preauth]",
        "Dec 10 07:08:28 LabSZ sshd[24208]: input_userauth_request: invalid user webmaster [preauth]",
        "Dec 10 09:12:32 LabSZ sshd[24490]: Failed password for invalid user ftpuser from 0.0.0.0 port 62891 ssh2",
        "Dec 10 <*> LabSZ <*> Failed password for invalid user <*> from 0.0.0.0 port <*> ssh2",
        "Dec 10 <*> LabSZ <*> Failed password for invalid user <*> from 0.0.0.0 port <*> ssh2",
        "Dec 10 07:28:03 LabSZ sshd[24245]: input_userauth_request: invalid user pgadmin [preauth]",
        "",
    ]
    bank = JaccardBank(depth=4, sim_th=0.75, max_children=100)
    got = [bank.ingest(line)["template_mined"] for line in [""] + SSH_LINES + ["  "]]
    assert got == expected
    assert bank.total_assigned() == 8


def test_max_clusters_single():
    # reference tests/test_jaccard_drain.py:105-137
    bank = JaccardBank(max_clusters=1)
    entries = ["A format 1", "A format 2", "B format 1", "B format 2", "A format 3"]
    expected = ["A format 1", "A format <*>", "B format 1", "B format <*>",
                "A format 3"]
    got = [bank.ingest(e)["template_mined"] for e in entries]
    assert got == expected
    assert bank.total_assigned() == 1


def test_lru_multiple_leaf_nodes():
    # reference tests/test_jaccard_drain.py:139-186
    bank = JaccardBank(max_clusters=2, depth=4, param_str="*")
    entries = ["A A A", "A A B", "B A A", "B A B", "C A A", "C A B", "B A A", "A A A"]
    expected = ["A A A", "A A *", "B A A", "B A *", "C A A", "C A *", "B A *", "A A A"]
    got = [bank.ingest(e)["template_mined"] for e in entries]
    assert got == expected
    assert bank.total_assigned() == 4


def test_lru_single_leaf_node():
    # reference tests/test_jaccard_drain.py:188-232
    bank = JaccardBank(max_clusters=2, depth=4, param_str="*")
    entries = ["A A A", "A A B", "A B A", "A B B", "A C A", "A C B", "A B A", "A A A"]
    expected = ["A A A", "A A *", "A B A", "A B *", "A C A", "A C *", "A B *", "A A A"]
    got = [bank.ingest(e)["template_mined"] for e in entries]
    assert got == expected


def test_match_only():
    # reference tests/test_jaccard_drain.py:234-258
    bank = JaccardBank()
    for line in ["aa aa aa", "aa aa bb", "aa aa cc", "xx yy zz"]:
        bank.ingest(line)
    assert bank.match("aa aa tt").cid == 1
    assert bank.match("xx yy zz").cid == 2
    assert bank.match("xx yy rr") is None
    assert bank.match("nothing") is None


def test_match_token_with_different_length():
    # reference tests/test_jaccard_drain.py:260-286
    bank = JaccardBank()
    for line in ["check pass; user unknown", "check pass; user Lisa",
                 "check pass; user li Sa",
                 "session opened for user cyrus by (uid=0)",
                 "session closed for user cyrus"]:
        bank.ingest(line)
    assert bank.match("check pass; user boris").cid == 1
    assert bank.match("session opened for user cyrus by (uid=1)").cid == 2
    assert bank.match("nothing") is None


def test_from_state_preserves_creation_tree_paths():
    """Variable-length jaccard merges leave the template longer than the
    creation tokens; the reference never re-inserts tree paths (the
    jsonpickle snapshot keeps the tree object, template_miner.py:112-122).
    A restored bank must be TREE-IDENTICAL to the live bank — routing by
    creation-time tokens, not by final templates — and behave identically
    on the next message."""
    from drain3_spark.core.kernel_jaccard import JaccardBank

    live = JaccardBank()
    live.ingest("login user alpha", order_key="k1")
    live.ingest("login user alpha now then", order_key="k2")  # longer merge
    live.ingest("login 42 cache x", order_key="k3")           # digit routing
    live.ingest("login 57 cache x y", order_key="k4")         # wildcard merge
    assert "login user alpha <*> <*>" in \
        [r.template for r in live.registry.values()]

    restored = JaccardBank.from_state(live.export_state(), counter=live.counter)
    assert restored.root == live.root           # path-identical tree
    assert restored.export_state() == live.export_state()
    for probe in ("login user alpha back", "login 99 cache x",
                  "logout something else"):
        a, b = live.ingest(probe), restored.ingest(probe)
        assert a == b
    assert live.counter == restored.counter


def test_from_state_legacy_rows_without_routing():
    from drain3_spark.core.kernel import TemplateBank
    rows = [(1, ["user", "<*>", "logged", "in"], 4, "a", "a")]  # 5-tuple
    bank = TemplateBank.from_state(rows, counter=1)
    assert bank.registry[1].routing == ("user", "<*>", "logged", "in")
    assert bank.match("user u9 logged in", "fallback") is not None


@pytest.mark.parametrize("bank_cls", [TemplateBank, JaccardBank])
def test_match_rejects_unknown_strategy(bank_cls):
    """A misspelt strategy is an error, not a silent ``fallback``, on
    both kernel banks (``python -O`` would drop an ``assert``)."""
    bank = bank_cls(depth=5)
    for line in ("job 5 start", "job 7 start", "job go stop"):
        bank.ingest(line)
    assert bank.match("job go start", "never") is None
    with pytest.raises(ValueError, match="Never"):
        bank.match("job go start", "Never")
