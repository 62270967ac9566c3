"""bench.py's scaled replica is reused only when it is complete and was
generated from the same inputs; anything else is regenerated."""

import os

import bench


def _sf(tmp_path):
    sf = tmp_path / "sf0.1"
    (sf / "events.parquet").mkdir(parents=True)
    (sf / "events.parquet" / "part-0.parquet").write_bytes(b"source")
    gen = tmp_path / "gen.py"
    gen.write_text("# generator v1\n")
    return str(sf), str(gen)


class Generator:
    def __init__(self, dst):
        self.dst = dst
        self.calls = 0

    def __call__(self):
        self.calls += 1
        ev = os.path.join(self.dst, "events.parquet")
        os.makedirs(ev, exist_ok=True)
        open(os.path.join(ev, "part-0.parquet"), "wb").close()
        open(os.path.join(ev, "_SUCCESS"), "wb").close()


def test_half_written_replica_is_regenerated(tmp_path):
    sf, gen_file = _sf(tmp_path)
    dst = str(tmp_path / "replica")
    # a killed generation: events.parquet exists, _SUCCESS never landed
    os.makedirs(os.path.join(dst, "events.parquet"))
    open(os.path.join(dst, "events.parquet", "part-0.parquet"), "wb").close()
    gen = Generator(dst)
    assert bench.ensure_replica(sf, dst, 40, gen, gen_file) is False
    assert gen.calls == 1
    assert bench.ensure_replica(sf, dst, 40, gen, gen_file) is True
    assert gen.calls == 1


def test_unstamped_or_stale_replica_is_regenerated(tmp_path):
    sf, gen_file = _sf(tmp_path)
    dst = str(tmp_path / "replica")
    gen = Generator(dst)
    gen()  # complete, but from an unknown source: no stamp
    assert bench.ensure_replica(sf, dst, 40, gen, gen_file) is False
    assert gen.calls == 2
    assert bench.ensure_replica(sf, dst, 40, gen, gen_file) is True
    # another multiplier, a changed source file, a changed generator
    assert bench.ensure_replica(sf, dst, 10, gen, gen_file) is False
    with open(os.path.join(sf, "events.parquet", "part-0.parquet"), "ab") as fh:
        fh.write(b"more")
    assert bench.ensure_replica(sf, dst, 10, gen, gen_file) is False
    with open(gen_file, "a") as fh:
        fh.write("# generator v2\n")
    assert bench.ensure_replica(sf, dst, 10, gen, gen_file) is False
    assert bench.ensure_replica(sf, dst, 10, gen, gen_file) is True
    assert gen.calls == 5
