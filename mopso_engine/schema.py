"""Schemas and configuration for the MOPSO engine.

The points table schema mirrors SURVEY.md §1.3: the reference's
``RDD[(Array[Double], Int)]`` (Spark_MOPSO_Avg.scala:1191-1236) becomes
``DataFrame(id long, features array<double>, label int)`` with a stable
``id`` so assignments and metrics are joinable.

Every behavioral quirk of the reference (SURVEY.md §4.2) is a named flag
here so tests can pin each variant's literal behavior.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

#: Canonical points-table schema (FIXTURES.md F1).
POINTS_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("features", ArrayType(DoubleType(), False), False),
        StructField("label", IntegerType(), True),
    ]
)

#: The values each enumerated MopsoConfig field accepts.
_CHOICES = {
    "w_schedule": ("decreasing", "increasing"),
    "crowding_formula": ("avg", "product"),
    "fitness_mode": ("exact", "partition_local"),
    "select_best": ("knee", "silhouette"),
    "init": ("maximin", "random", "random_point"),
}


@dataclass
class BugCompat:
    """Literal-behavior switches for the reference's quirks (SURVEY §4.2).

    Defaults are the *fixed* semantics; set a flag True to reproduce the
    reference's as-implemented behavior bit-for-bit at the algorithm level.
    """

    #: Avg/AvgLabel discard the computed pbest, so pbest never changes
    #: after init (Spark_MOPSO_Avg.scala:272).
    pbest_frozen: bool = False
    #: The implemented pbest rule is inverted w.r.t. its comment: it
    #: replaces pbest when the NEW fitness is dominated BY pbest
    #: (Spark_MOPSO_Avg.scala:260-271, MOPSO_Single.scala:463-477).
    pbest_inverted: bool = False
    #: Crowding endpoint bugs: for n>2 the first endpoint is compared
    #: (``==``) instead of assigned (``=``) so it keeps its stale value
    #: (Spark_MOPSO_Avg.scala:980); for n==2 index 0 is assigned twice and
    #: index 1 keeps its stale value (Spark_MOPSO_Avg.scala:975-976).
    crowding_endpoint_bug: bool = False
    #: DBI inner ``max`` is never reset across the outer loop
    #: (Spark_MOPSO_Avg.scala:1317,1326-1340).
    dbi_max_not_reset: bool = False


@dataclass
class MopsoConfig:
    """All knobs of the MOPSO engine.

    Defaults mirror the reference constants (BASELINE.md):
    50 particles, archive capacity 15, L=10, two objectives (Dev, Conn),
    V in [-1, 1], W in [0.4, 0.9], c1/c2 per variant.
    """

    k: int | None = None  # clusters; None -> infer = count(distinct label)
    n_particles: int = 50  # Spark_MOPSO_Avg.scala:34
    archive_capacity: int = 15  # Spark_MOPSO_Avg.scala:31
    iter_max: int = 30  # MOPSO_Single.scala:24
    knn_l: int = 10  # Conn neighborhood, Spark_MOPSO_Avg.scala:39
    c1: float = 1.0  # Spark_MOPSO_Avg.scala:501
    c2: float = 2.0  # Spark_MOPSO_Avg.scala:502
    w_max: float = 0.9  # Spark_MOPSO_Avg.scala:27-28
    w_min: float = 0.4
    v_max: float = 1.0  # Spark_MOPSO_Avg.scala:29-30
    v_min: float = -1.0
    seed: int = 42

    #: 'decreasing' = MOPSO_Single.scala:132 (w: 0.9 -> 0.4);
    #: 'increasing' = all Spark variants (Spark_MOPSO_Avg.scala:199) —
    #: (Wmax + iter*(Wmax-Wmin))/iter_max, which grows past 1.
    w_schedule: str = "decreasing"

    #: 'avg'     = (sqrt(d(prev,cur)) + sqrt(d(next,cur)))/2 over fitness
    #:             space, d = euclidean (Spark_MOPSO_Avg.scala:966-995);
    #: 'product' = |f1(prev)-f1(next)| * |f2(prev)-f2(next)|
    #:             (MOPSO_Single.scala:994-1020, Spark_MOPSO_Particle.scala:677-703).
    crowding_formula: str = "avg"

    #: The fitness scope, and with it the Conn neighbourhood:
    #: 'exact'           — global Dev + global-kNN Conn (default; the
    #:                     reference's Single/Particle semantics). The kNN
    #:                     build broadcasts every row, so a fit above
    #:                     objectives.MAX_EXACT_KNN_ROWS rows raises;
    #: 'partition_local' — per-partition partials weighted by |p|/N and
    #:                     summed on the driver, Conn restricted to the
    #:                     partition (Avg variant, Spark_MOPSO_Avg.scala:843-865).
    fitness_mode: str = "exact"

    #: AvgLabel layout (Spark_MOPSO_Avg_labelPartition.scala:77-85): in
    #: partition_local mode, hash-repartition the points by ground-truth
    #: label (into ``n_partitions`` or k partitions) so each partition's
    #: Conn neighborhood is label-pure — and deterministic, making a seeded
    #: avg_label fit reproducible (random layouts are not). Ignored in
    #: exact mode, which owns its own deterministic layout.
    partition_by_label: bool = False
    n_partitions: int | None = None

    #: Velocity out of [v_min, v_max] is *resampled* uniform (not clipped)
    #: (Spark_MOPSO_Avg.scala:528-530); Particle variant skips it.
    velocity_resample: bool = True
    #: Single resamples out-of-bound positions uniform per-feature
    #: (MOPSO_Single.scala:445-449); Avg/Particle don't.
    position_bounds: bool = False

    #: Final-solution selection from the archive: 'knee' (min normalized
    #: L2 to the ideal point; cheap) or 'silhouette' — the reference's
    #: selectBestArchiveAsFinalResult picks the max-silhouette archive
    #: entry (Spark_MOPSO_Avg.scala:578-602); we use the scalable
    #: ml.ClusteringEvaluator silhouette for the sweep.
    select_best: str = "knee"

    #: Swarm init: 'maximin' (reference default, Spark_MOPSO_Avg.scala:1123-1187),
    #: 'random' (uniform in the feature bounds, MOPSO_Single.scala:548-556)
    #: or 'random_point' (k distinct sampled points, MOPSO_Single.scala:538-545).
    init: str = "maximin"
    #: Rows sampled to the driver for the maximin / random_point init at scale.
    init_sample_size: int = 20000

    bug_compat: BugCompat = field(default_factory=BugCompat)

    def __post_init__(self):
        # reject a bad value before any Spark job: the code that reads
        # these fields fails late on one (init after the kNN build) or
        # silently falls back (select_best to the knee)
        for name, allowed in _CHOICES.items():
            value = getattr(self, name)
            if value not in allowed:
                raise ValueError(f"MopsoConfig.{name}={value!r}: expected one of {allowed}")

    @classmethod
    def variant(cls, name: str, **overrides) -> "MopsoConfig":
        """Config replicating one of the reference's four programs
        as-implemented — algorithm-level bit-parity flags included
        (SURVEY §2 aliases; RNG streams are numpy, not Scala):

        * 'single'    — MOPSO_Single.scala: decreasing w, product crowding,
          c1/c2 = 1.42/1.63, position bounds resampled, inverted pbest
          applied, exact/global fitness.
        * 'avg'       — Spark_MOPSO_Avg.scala: increasing w, avg crowding,
          c1/c2 = 1/2, partition-weighted partition-local fitness, pbest
          FROZEN (the discard bug), no position bounds.
        * 'avg_label' — Spark_MOPSO_Avg_labelPartition.scala: same engine
          flags as 'avg' plus ``partition_by_label=True`` — the engine
          hash-repartitions by ground-truth label before the fit
          (deterministic layout ⇒ a seeded avg_label fit replays
          identically; set ``n_partitions`` to override the default k).
        * 'particle'  — Spark_MOPSO_Particle.scala: increasing w, product
          crowding, c1/c2 = 1/2, exact/global fitness, NO velocity
          resample, inverted pbest applied.
        """
        base: dict
        if name == "single":
            base = dict(
                w_schedule="decreasing", crowding_formula="product",
                c1=1.42, c2=1.63, position_bounds=True, velocity_resample=True,
                fitness_mode="exact",
                bug_compat=BugCompat(pbest_inverted=True, crowding_endpoint_bug=True,
                                     dbi_max_not_reset=True),
            )
        elif name in ("avg", "avg_label"):
            base = dict(
                w_schedule="increasing", crowding_formula="avg",
                c1=1.0, c2=2.0, position_bounds=False, velocity_resample=True,
                fitness_mode="partition_local",
                partition_by_label=(name == "avg_label"),
                bug_compat=BugCompat(pbest_frozen=True, pbest_inverted=True,
                                     crowding_endpoint_bug=True, dbi_max_not_reset=True),
            )
        elif name == "particle":
            base = dict(
                w_schedule="increasing", crowding_formula="product",
                c1=1.0, c2=2.0, position_bounds=False, velocity_resample=False,
                fitness_mode="exact",
                bug_compat=BugCompat(pbest_inverted=True, crowding_endpoint_bug=True,
                                     dbi_max_not_reset=True),
            )
        else:
            raise ValueError(f"unknown variant: {name!r} (single|avg|avg_label|particle)")
        base.update(overrides)
        return cls(**base)

    def w_at(self, iteration: int) -> float:
        """Inertia-weight schedule (SURVEY F4)."""
        if self.w_schedule == "decreasing":
            # MOPSO_Single.scala:132
            return (self.w_max - self.w_min) * (self.iter_max - iteration) / self.iter_max + self.w_min
        if self.w_schedule == "increasing":
            # Spark_MOPSO_Avg.scala:199 — as-implemented (grows past 1).
            return (self.w_max + iteration * (self.w_max - self.w_min)) / self.iter_max
        raise ValueError(f"unknown w_schedule: {self.w_schedule}")
