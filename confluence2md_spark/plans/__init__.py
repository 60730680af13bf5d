"""Plans/ops layer: end-to-end pipeline orchestration, checkpoint/resume
manifests, per-partition lineage, skew-defusing salted repartition, and
the fixpoint driver of the iterative graph operators."""
