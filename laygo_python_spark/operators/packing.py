"""Sequence packing — fill fixed token budgets (e.g. a 512-token context
window) with documents so training batches waste no padding.

Packing is partition-local by design: a global optimal bin packing would
serialize the corpus through one node; greedy first-fit within each
partition wastes a few percent of budget and costs one map-only pass.
For tighter packing, pre-sort by token count descending within
partitions (first-fit-decreasing) — one sortWithinPartitions, still no
shuffle.

Bin ids are globally unique: (partition_id << 32) | local_bin — the
same pattern as monotonically_increasing_id.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import md5_long


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = 512,
    decreasing: bool = True,
) -> DataFrame:
    """(bin_id, doc_ids array, total_tokens, n_docs) — greedy first-fit
    packing of documents into bins of at most ``budget`` tokens.
    Documents larger than the budget get a bin of their own (they would
    be truncated downstream, which is the trainer's decision, not ours).

    Invariants (tested): every input doc appears in exactly one bin;
    no multi-doc bin exceeds the budget.
    """
    if decreasing:
        df = df.sortWithinPartitions(F.desc(tokens_col))

    max_open = 64  # cap the first-fit scan: O(docs × max_open), not O(docs × bins)

    def pack(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        closed: list[list] = []  # [doc_ids, used]
        open_bins: list[list] = []
        for pdf in batches:
            for doc_id, n_tok in zip(pdf[id_col], pdf[tokens_col]):
                n_tok = int(n_tok)
                for b in open_bins:
                    if b[1] + n_tok <= budget:
                        b[0].append(doc_id)
                        b[1] += n_tok
                        break
                else:
                    open_bins.append([[doc_id], n_tok])
                    if len(open_bins) > max_open:
                        closed.append(open_bins.pop(0))
        closed.extend(open_bins)
        if closed:
            yield pd.DataFrame(
                {
                    "bin_id": [(pid << 32) | i for i in range(len(closed))],
                    "doc_ids": [b[0] for b in closed],
                    "total_tokens": [b[1] for b in closed],
                    "n_docs": [len(b[0]) for b in closed],
                }
            )

    return df.select(id_col, tokens_col).mapInPandas(
        pack, schema="bin_id long, doc_ids array<long>, total_tokens long, n_docs int"
    )


def pack_sequences_grouped(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = 512,
    n_groups: int = 8,
    max_open: int = 64,
    with_doc_ids: bool = False,
) -> DataFrame:
    """(grp, bin_id, total_tokens, n_docs) — DETERMINISTIC first-fit-
    decreasing packing, independent of partition layout and cluster
    size: documents are routed to ``n_groups`` stable groups by an
    md5-derived hash of ``id_col`` (portable — any engine recomputes the
    same routing), each group is packed in isolation by capped first-fit
    over (tokens desc, id asc) order, and bin ids are per-group CREATION
    indexes. Same corpus → same bins, on 1 executor or 1000 — the
    reproducible-data-prep complement to the layout-dependent
    ``pack_sequences`` above (which saves the routing shuffle when
    reproducibility doesn't matter).

    The first-fit scan only considers the most recent ``max_open`` open
    bins (older ones close permanently), keeping in-group cost linear:
    O(docs × max_open). Groups are the parallel unit — size ``n_groups``
    so a group's doc list fits executor memory, exactly like any
    ``applyInPandas`` key.

    ``with_doc_ids=True`` adds the bin membership as a ``doc_ids``
    array column (what a trainer consumes); the default aggregate-only
    shape is what the oracle-gated query emits (the driver's compare
    needs scalar columns).
    """
    grp = (md5_long(F.col(id_col).cast("string"), 6) % n_groups).alias("grp")
    # A NULL id would md5 to a NULL group and reach pack_group as a
    # NaN grp (int() crash inside the executor); packing has no sane
    # placement for an unidentifiable document, so drop NULL ids up
    # front — deterministic, and documented here rather than a
    # deep-in-UDF TypeError.
    sized = df.filter(F.col(id_col).isNotNull()).select(
        grp, F.col(id_col), F.col(tokens_col)
    )

    def pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [tokens_col, id_col], ascending=[False, True], kind="mergesort"
        )
        g = int(pdf["grp"].iloc[0])
        loads: list[int] = []  # creation order, closed and open alike
        ndocs: list[int] = []
        members: list[list] = []
        open_idx: list[int] = []  # indexes into loads, oldest first
        for doc_id, n_tok in zip(pdf[id_col], pdf[tokens_col]):
            n_tok = int(n_tok)
            for j in open_idx:
                if loads[j] + n_tok <= budget:
                    loads[j] += n_tok
                    ndocs[j] += 1
                    members[j].append(doc_id)
                    break
            else:
                loads.append(n_tok)
                ndocs.append(1)
                members.append([doc_id])
                open_idx.append(len(loads) - 1)
                if len(open_idx) > max_open:
                    open_idx.pop(0)
        out = {
            "grp": g,
            "bin_id": range(1, len(loads) + 1),
            "total_tokens": loads,
            "n_docs": ndocs,
        }
        if with_doc_ids:
            out["doc_ids"] = members
        return pd.DataFrame(out)

    schema = "grp long, bin_id long, total_tokens long, n_docs long"
    if with_doc_ids:
        # Membership keeps the caller's id type (string uuids route
        # through the md5 hash just as well as longs).
        id_type = df.schema[id_col].dataType.simpleString()
        schema += f", doc_ids array<{id_type}>"
    return sized.groupBy("grp").applyInPandas(pack_group, schema=schema)
