"""The CLI's flag → operator keyword routing, checked without Spark."""

from __future__ import annotations

import inspect

import pytest

from hugegraph_computer_spark.__main__ import algorithm_kwargs, build_parser, main
from hugegraph_computer_spark.operators import ALGORITHMS

# flags some algorithms require before any kwargs are built
REQUIRED = {
    "links": ["--start-cond", "vid = 0"],
    "ppr": ["--seed-vertices", "0,1"],
}


def _args(algorithm: str, *extra: str):
    argv = ["--algorithm", algorithm, "--edges", "e", "--output", "o",
            *REQUIRED.get(algorithm, []), *extra]
    return build_parser().parse_args(argv)


@pytest.mark.parametrize("algorithm", sorted(ALGORITHMS))
def test_cli_kwargs_match_operator_signature(algorithm):
    """Every routed key is a parameter of the operator; the checkpoint
    flags, the superstep cap and --weight-col reach every operator that
    takes them, and a durable flag given to one that does not is refused."""
    params = inspect.signature(ALGORITHMS[algorithm]).parameters
    kw = algorithm_kwargs(_args(algorithm, "--weight-col", "w"))
    assert set(kw) <= set(params), set(kw) - set(params)
    if "weighted" in params:
        assert kw["weighted"] is True
    if "max_supersteps" in params:
        assert kw["max_supersteps"] == 10

    durable = {"checkpoint_dir", "resume"} <= set(params)
    flags = ("--checkpoint-dir", "/ck", "--resume")
    if durable:
        kw = algorithm_kwargs(_args(algorithm, *flags))
        assert (kw["checkpoint_dir"], kw["resume"]) == ("/ck", True)
    else:
        assert not {"checkpoint_dir", "resume"} & set(kw)
        with pytest.raises(ValueError, match="checkpoint"):
            algorithm_kwargs(_args(algorithm, *flags))


@pytest.mark.parametrize("algorithm", ["triangle_count", "degree_centrality"])
def test_cli_exits_2_on_checkpoint_flags_it_cannot_use(algorithm, capsys):
    argv = ["--algorithm", algorithm, "--edges", "e", "--output", "o",
            "--checkpoint-dir", "/ck"]
    assert main(argv) == 2
    assert "--checkpoint-dir" in capsys.readouterr().err
