import json
import os

import pytest

from quicker_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, shuffle_partitions=8, app="quicker_spark-tests",
                  driver_memory="4g")
    yield s


@pytest.fixture
def postings_match_oracle(spark):
    """``check(index_dir, oracle)``: decode every stored postings row and
    assert the index holds exactly the Oracle's runs — the same
    (segment, term) keys, and per run the ascending doc ids with each
    doc's tf, doc_len and bits. Returns the number of runs compared."""
    from quicker_spark.engine import _row_to_encoded

    def check(index_dir, oracle):
        with open(os.path.join(index_dir, "stats.json")) as fh:
            stats = json.load(fh)
        seg_docs, block = int(stats["seg_docs"]), int(stats["block_size"])
        got = {}
        for r in spark.read.parquet(index_dir + "/postings").collect():
            ids, tfs, dls, bits = _row_to_encoded(r, block).decode_all()
            assert r["df"] == len(ids)
            got[(r["segment_id"], r["term"])] = (
                ids.tolist(), tfs.tolist(), dls.tolist(), bits.tolist())
        want = {}
        for t, tfm in oracle.postings.items():
            for d in sorted(tfm):
                run = want.setdefault((d // seg_docs, t), ([], [], [], []))
                for col, v in zip(run, (d, tfm[d], oracle.doc_len[d],
                                        oracle.docs[d]["bits"])):
                    col.append(v)
        assert got == want
        return len(got)

    return check
