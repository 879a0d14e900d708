"""StatefulTransformer — keyed, event-time-ordered stateful fold on Spark.

The Spark-native re-expression of the reference's
``StatefulTransformer.transformWithState`` (/root/reference/src/main/scala/com/
github/ozancicek/artan/ml/state/StatefulTransformer.scala:103-219): model
parallelism = key parallelism, one latent state per ``stateKey``.

Physical mapping (idiomatic PySpark, no custom Catalyst work):

- **batch**:     ``df.groupBy(key).applyInPandas(fold, outSchema)`` — one
  hash-shuffle on the state key, then an Arrow-batched numpy fold per group.
  No state store needed; the fold starts from the initial state.
- **streaming**: ``df.groupBy(key).applyInPandasWithState(fold, outSchema,
  stateSchema, "append", timeout)`` — Spark's streaming state store holds the
  packed state struct between micro-batches; watermark + state timeout
  semantics come from the engine.

Both paths share ONE fold function so batch == streaming bit-for-bit (the
reference asserts exact Row equality between the two; identical float op
order requires a shared fold — SURVEY §7.3.2).

Batch engines (``resolve_engine``): the per-key fold above, or ONE
multi-key bucketed transform (``_bucketedTransform``):
``repartition(buckets, stateKey).mapInPandas(fold)`` gives each bucket of
key hashes its own task, whose one Python call folds all its keys
time-synchronously or by parallel scan (operators/vectorized.py), so
wall-clock no longer scales with one Python call per key; the distributed scan
(operators/distscan.py) splits a hot key across tasks by event-time chunk.
State is bounded by #keys × state size (README.md:19-25 of the reference);
constants are closure-captured so per-row Arrow traffic carries only true
per-row columns.

Every engine hands back its operator's one flat boundary frame
(operators/codec.py: float64 blocks, no array or struct cells), which
``_shapeOutput`` reassembles into the public schema JVM-side, so every
engine emits the same public schema.
"""

from __future__ import annotations

from typing import Callable, Iterator, NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from artan_spark.compat import drop_zip_finders
from artan_spark.params import HasParams

STATE_KEY = "stateKey"
EVENT_TIME = "eventTime"


def empty_pdf(columns) -> pd.DataFrame:
    """Zero-row frame with object-dtype columns.

    pandas (2.x) types empty columns float64 — both ``pd.DataFrame([])`` and
    ``pd.DataFrame({c: []})`` — and Arrow refuses to map a float64 column onto
    a struct/array/timestamp/string field of the declared schema
    (``ArrowTypeError: Cannot convert ... with type float64``). Every
    zero-row emission from a fold must go through this helper.
    """
    return pd.DataFrame({c: pd.Series([], dtype=object) for c in columns})


def rows_to_pdf(rows, columns) -> pd.DataFrame:
    """Normalize a fold's emission (list-of-row-dicts or DataFrame) for Arrow.

    Zero-row results are rebuilt with object dtype regardless of how the fold
    constructed them — a returned ``pd.DataFrame(dict-of-empty-lists)`` is
    float64-typed and would crash Arrow just like an empty list would
    (e.g. a mixture group with fewer samples than one minibatch).
    """
    if isinstance(rows, pd.DataFrame):
        return empty_pdf(columns) if len(rows) == 0 else rows
    if not rows:
        return empty_pdf(columns)
    return pd.DataFrame(rows, columns=columns)


def sort_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Stable in-group ordering: by eventTime with nulls FIRST, matching the
    reference's buffered-row sort (StatefulTransformer.scala:415-422, 448)."""
    if EVENT_TIME in pdf.columns and pdf[EVENT_TIME].notna().any():
        return pdf.sort_values(EVENT_TIME, kind="stable", na_position="first")
    return pdf


class EnginePlan(NamedTuple):
    """One batch-engine decision (see ``resolve_engine``)."""

    engine: str  # recorded as _lastFoldEngine
    vectorized: bool  # a batched fold runs (recorded as _lastFoldVectorized)
    # fold factory; for distributedScan the distributed transform itself
    factory: Callable
    reason: str
    buckets: int | None = None  # bucket tasks; sized only when keyed is given


def resolve_engine(op, constants: dict, streaming: bool, keyed: DataFrame | None = None) -> EnginePlan:
    """Pick the fold engine for ``op`` — the one place every estimation
    operator (LKF/EKF/UKF/CKF incl. MMAE, the smoother, RLS, LMS, the
    mixtures) decides how its batch runs.

    ============  ==============================  =====================
    foldEngine    batch input                     streaming input
    ============  ==============================  =====================
    auto          scan if the shape is            sequential
                  scan-eligible, else sequential
    sequential    sequential                      sequential
    scan          scan (needs vectorizedBatch)    ValueError
    distributed-  distscan.py transform (needs    ValueError
    Scan          vectorizedBatch)
    ============  ==============================  =====================

    A batch "scan" or ``vectorizedBatch`` run folds multi-key buckets,
    one task each, when the operator's ``_bucketedFold`` offers a factory for
    the shape; otherwise it falls back to the per-key sequential fold.
    Operators without a ``foldEngine`` param (the mixtures) resolve as
    "sequential". Auto scans only scalar shapes: the n-D scans lose on
    many-key batches (``_scanEligible`` of each family says where).

    Pure unless the keyed input frame is given for a bucketed plan: then
    the bucket count is sized from it (``vectorizedBuckets`` overrides). Width ~128
    keys per bucket balances the operator families: LAPACK-heavy n-D
    folds amortize batched calls over width, cheap elementwise folds want
    task parallelism. The distinct-key count comes from a bounded sample
    (``take(2048)``, one job on the first partition) instead of a count
    job, which taxed the fold by ~13%; a floor of 4 buckets keeps task
    parallelism, so with at most 4 shuffle partitions the count is the
    partition count and no sample job runs. An under-estimate only yields
    fewer, wider buckets.
    """
    params = op._paramMap
    requested = params.get("foldEngine", "sequential")
    batched = bool(params.get("vectorizedBatch"))
    if requested in ("scan", "distributedScan") and (streaming or not batched):
        raise ValueError(
            f"foldEngine={requested!r} is a batch vectorized engine: call "
            f"setVectorizedBatch(True) and use batch input{op._batchOnlyHint}"
        )
    if requested == "distributedScan":
        return EnginePlan(
            requested, True, op._distributedTransform(constants), "foldEngine='distributedScan'"
        )
    engine, reason = requested, f"foldEngine={requested!r}"
    if requested == "auto":
        if streaming:
            engine, reason = "sequential", "auto: streaming input"
        elif op._scanEligible(constants):
            engine, reason = "scan", "auto: scan-eligible shape"
        else:
            engine, reason = "sequential", "auto: shape not scan-eligible"
    if not streaming and (engine == "scan" or batched):
        factory = op._bucketedFold(constants, engine)
        if factory is not None:
            buckets = _bucket_count(op, keyed) if keyed is not None else None
            return EnginePlan(engine, True, factory, f"{reason}; key buckets", buckets)
        reason += "; no batched fold for this shape"
    return EnginePlan("sequential", False, op._foldFactory(), reason)


def _bucket_count(op, keyed: DataFrame) -> int:
    buckets = op.get("vectorizedBuckets")
    if buckets is None:
        par = max(1, int(keyed.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")))
        if par <= 4:  # the floor below already equals par
            return par
        head = keyed.select(STATE_KEY).take(2048)
        n_keys = len({r[0] for r in head})
        if n_keys >= 1024:
            # mostly-distinct sample => high cardinality; use all buckets
            n_keys = 128 * par
        buckets = max(min(4, par), min(par, int(n_keys) // 128))
    return int(buckets)


class StatefulTransformer(HasParams):
    """Base class for all keyed stateful estimation operators.

    Subclass contract (all pure / picklable):
      - ``_inputCols(df)``  -> list[(name, Column)] true per-row columns
      - ``_constants()``    -> dict shipped via closure (model params)
      - ``_outSchema()``    -> StructType of the fold output
      - ``_stateSchema()``  -> StructType of the packed streaming state
      - ``_foldFactory()``  -> fn(constants) -> fold(pdf, state) ->
                               (list-of-row-dicts | pd.DataFrame, new_state)
      - ``_packState(state) -> tuple`` / ``_unpackState(tuple) -> state``
    """

    _defaults = {
        "stateKeyCol": None,
        "eventTimeCol": None,
        "watermarkDuration": None,
        "stateTimeoutMode": "none",  # none | process | event
        "stateTimeoutDuration": None,
        # streaming execution backend:
        #   "applyInPandasWithState"  - PySpark >=3.4 (default; any state store)
        #   "transformWithState"      - PySpark >=4.0 arbitrary-state API
        #     (requires the RocksDB state store provider; supports state
        #     schema evolution and per-key timers engine-side). Both wrap
        #     the SAME fold, so results are bit-identical across backends.
        "streamingBackend": "applyInPandasWithState",
    }

    # -- subclass hooks -----------------------------------------------------

    def _inputCols(self, df: DataFrame) -> list[tuple[str, Column]]:
        raise NotImplementedError

    def _constants(self) -> dict:
        raise NotImplementedError

    def _outSchema(self) -> StructType:
        raise NotImplementedError

    def _stateSchema(self) -> StructType:
        raise NotImplementedError

    def _foldFactory(self) -> Callable:
        raise NotImplementedError

    @staticmethod
    def _packState(state) -> tuple:
        raise NotImplementedError

    @staticmethod
    def _unpackState(packed) -> object:
        raise NotImplementedError

    # -- engine hooks (resolve_engine); the defaults fold per key ----------

    _lastFoldEngine: str | None = None
    _lastFoldVectorized = False
    _batchOnlyHint = ""

    def _scanEligible(self, c: dict) -> bool:
        """Shapes ``foldEngine="auto"`` promotes to the scan in batch."""
        return False

    def _bucketedFold(self, c: dict, engine: str):
        """Fold factory of the bucketed multi-key fold for ``engine``
        ("scan" or "sequential"), or None when the shape has none; raises
        ValueError for a forced scan it cannot run. It emits the same
        frame as the sequential fold."""
        return None

    # -- shared plumbing ----------------------------------------------------

    def _keyed(self, df: DataFrame) -> DataFrame:
        """Add canonical stateKey/eventTime cols + subclass input columns."""
        key_col = self.get("stateKeyCol")
        ev_col = self.get("eventTimeCol")
        cols = [
            (F.col(key_col).cast("string") if key_col else F.lit("0")).alias(STATE_KEY),
            (F.col(ev_col).cast("timestamp") if ev_col else F.lit(None).cast("timestamp")).alias(EVENT_TIME),
        ]
        cols += [c.alias(n) for n, c in self._inputCols(df)]
        out = df.select(*cols)
        if ev_col and self.get("watermarkDuration"):
            out = out.withWatermark(EVENT_TIME, self.get("watermarkDuration"))
        return out

    def transform(self, df: DataFrame) -> DataFrame:
        constants = self._constants()
        keyed = self._keyed(df)
        plan = resolve_engine(self, constants, df.isStreaming, keyed)
        self._lastFoldEngine, self._lastFoldVectorized = plan.engine, plan.vectorized
        if plan.engine == "distributedScan":
            return plan.factory(self, df)
        if plan.vectorized:
            return self._bucketedTransform(keyed, plan, constants)
        # factory is invoked lazily on the worker (once per python worker, via
        # the cache cell) so callable params stay as by-value pickles in transit
        factory = plan.factory
        cell: list = []

        def fold(pdf, state):
            if not cell:
                cell.append(factory(constants))
            return cell[0](pdf, state)

        out_schema = self._outSchema()

        if not df.isStreaming:

            def batch_fn(pdf: pd.DataFrame) -> pd.DataFrame:
                drop_zip_finders()
                rows, _state = fold(sort_group(pdf), None)
                return rows_to_pdf(rows, [f.name for f in out_schema.fields])

            result = keyed.groupBy(STATE_KEY).applyInPandas(batch_fn, out_schema)
        elif self.get("streamingBackend") == "transformWithState":
            # no downstream withWatermark here: the operator itself declares
            # the output event-time column (eventTimeColumnName), and Spark
            # rejects redefining a watermark on top of a TWS operator
            result = self._transformWithState(keyed, fold, out_schema)
        else:
            pack, unpack = self._packState, self._unpackState
            columns = [f.name for f in out_schema.fields]
            timeout_mode = self.get("stateTimeoutMode")
            timeout_duration = self.get("stateTimeoutDuration")
            timeout_conf = {
                "none": "NoTimeout",
                "process": "ProcessingTimeTimeout",
                "event": "EventTimeTimeout",
            }[timeout_mode]
            # Event-mode horizon: a key idle for more than this much EVENT
            # time restarts from the initial state. Enforced two ways, both
            # needed: (a) the engine timer set to lastEvent+1 fires once the
            # watermark passes the key's last event — i.e. after >= horizon
            # of silence, since the watermark lags max event time by the
            # watermark delay — reclaiming memory for keys that never
            # return; (b) an access-time gap check below, because a timer
            # can only fire in a batch where the key is SILENT — a key
            # whose next row arrives beyond the horizon would otherwise be
            # folded against state the contract says is expired.
            event_mode = timeout_mode == "event"
            horizon_ms = None
            if event_mode:
                dur = timeout_duration or self.get("watermarkDuration")
                if not dur:
                    raise ValueError(
                        "event-time state timeout needs stateTimeoutDuration "
                        "or watermarkDuration as the idleness horizon"
                    )
                horizon_ms = int(pd.Timedelta(dur).total_seconds() * 1000)

            def stream_fn(key, pdf_iter: Iterator[pd.DataFrame], group_state) -> Iterator[pd.DataFrame]:
                drop_zip_finders()
                if group_state.hasTimedOut:
                    # timeout clears state; the key restarts from the initial
                    # state on its next row (StatefulTransformer.scala:439-441)
                    group_state.remove()
                    return
                last_ev = None
                if group_state.exists:
                    packed = group_state.get
                    if event_mode:
                        last_ev, packed = packed[-1], packed[:-1]
                    state = unpack(packed)
                else:
                    state = None
                pdf = pd.concat(list(pdf_iter), ignore_index=True)
                if event_mode:
                    ev = pdf[EVENT_TIME].dropna()
                    if len(ev):
                        mn_ms = pd.Timestamp(ev.min()).value // 1_000_000
                        mx_ms = pd.Timestamp(ev.max()).value // 1_000_000
                        if last_ev is not None and mn_ms - last_ev > horizon_ms:
                            # idle past the horizon: expired at access time
                            state, last_ev = None, None
                        last_ev = mx_ms if last_ev is None else max(last_ev, mx_ms)
                rows, state = fold(sort_group(pdf), state)
                group_state.update(pack(state) + ((last_ev,) if event_mode else ()))
                if timeout_mode == "process" and timeout_duration:
                    group_state.setTimeoutDuration(timeout_duration)
                elif event_mode:
                    wm = group_state.getCurrentWatermarkMs()
                    base_ts = wm if last_ev is None else last_ev
                    # armed at lastEvent+horizon so the timer NEVER fires
                    # before the key has truly been idle for the horizon
                    # (wm itself already lags by the watermark delay); the
                    # max keeps it beyond the watermark as Spark requires
                    group_state.setTimeoutTimestamp(max(base_ts + horizon_ms, wm + 1))
                yield rows_to_pdf(rows, columns)

            state_schema = self._stateSchema()
            if event_mode:
                from pyspark.sql.types import LongType, StructField

                state_schema = StructType(
                    state_schema.fields + [StructField("__lastEv__", LongType(), True)]
                )
            result = keyed.groupBy(STATE_KEY).applyInPandasWithState(
                stream_fn, out_schema, state_schema, "append", timeout_conf
            )
            if (
                self.get("eventTimeCol")
                and self.get("watermarkDuration")
                # re-apply the watermark only when the fold's output schema
                # carries the event-time column (operators like
                # BucketFirstSeen emit none — their output needs no
                # downstream event-time semantics)
                and EVENT_TIME in result.columns
            ):
                result = result.withWatermark(EVENT_TIME, self.get("watermarkDuration"))

        return self._shapeOutput(result)

    def _bucketedTransform(self, keyed: DataFrame, plan: EnginePlan, constants: dict) -> DataFrame:
        """The multi-key bucket path shared by every batched fold: keys
        hash into ``plan.buckets`` partitions, one task each, so ONE Python
        call folds many keys time-synchronously (operators/vectorized.py);
        each bucket is stably sorted by (key, event time) before the fold,
        which emits the operator's one boundary frame. An explicit-count
        repartition is never coalesced by AQE."""
        factory, cell = plan.factory, []

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            drop_zip_finders()
            frames = list(batches)
            if not frames:
                return
            if not cell:
                cell.append(factory(constants))
            pdf = pd.concat(frames, ignore_index=True)
            cols = [STATE_KEY] + ([EVENT_TIME] if EVENT_TIME in pdf.columns else [])
            pdf = pdf.sort_values(cols, kind="stable", na_position="first")
            out, _ = cell[0](pdf, None)
            yield out

        res = (
            self._bucketInput(keyed)
            .repartition(plan.buckets, STATE_KEY)
            .mapInPandas(fn, self._outSchema())
        )
        return self._shapeOutput(res)

    def _bucketInput(self, keyed: DataFrame) -> DataFrame:
        """Projection of the keyed frame the bucketed folds read."""
        return keyed

    def _transformWithState(self, keyed: DataFrame, fold, out_schema: StructType) -> DataFrame:
        """Streaming execution on the PySpark >=4.0 arbitrary-state API.

        Same fold, same packed state tuple — only the state-store plumbing
        differs: the packed state lives in a named ValueState managed by
        ``transformWithStateInPandas`` (RocksDB-backed, schema-evolvable)
        instead of the ``applyInPandasWithState`` GroupState blob. All
        three timeout modes are wired, mirroring the default backend's
        semantics exactly (tests/test_tws_backend.py runs the same
        timeout suite against both): process = an engine timer re-armed
        at now+duration per input batch; event = the lastEvent+horizon
        timer PLUS the access-time gap check, because a timer only fires
        in a batch where the key is silent — a row arriving beyond the
        horizon must fold against a fresh state, not the expired one.
        """
        # timeout-config validation BEFORE the protobuf probe: a semantic
        # config error should surface identically whether or not the
        # runner dependency is installed
        timeout_mode = self.get("stateTimeoutMode")
        timeout_duration = self.get("stateTimeoutDuration")
        process_mode = timeout_mode == "process"
        event_mode = timeout_mode == "event"
        duration_ms = None
        if process_mode:
            if not timeout_duration:
                raise ValueError(
                    "process-time state timeout needs stateTimeoutDuration"
                )
            duration_ms = int(pd.Timedelta(timeout_duration).total_seconds() * 1000)
        horizon_ms = None
        if event_mode:
            dur = timeout_duration or self.get("watermarkDuration")
            if not dur:
                raise ValueError(
                    "event-time state timeout needs stateTimeoutDuration "
                    "or watermarkDuration as the idleness horizon"
                )
            horizon_ms = int(pd.Timedelta(dur).total_seconds() * 1000)
        from pyspark.sql.streaming.stateful_processor import StatefulProcessor

        try:
            # pyspark's transformWithState driver runner imports protobuf at
            # query start and crashes the JVM-side query with an opaque
            # STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE when it's
            # missing — probe here for a clear error instead
            from google.protobuf import descriptor  # noqa: F401
        except ImportError as exc:
            raise ImportError(
                "the transformWithState backend requires the protobuf package "
                "(a pyspark streaming-runner dependency not present in this "
                "environment); use the default applyInPandasWithState backend"
            ) from exc

        pack, unpack = self._packState, self._unpackState
        state_schema = self._stateSchema()
        columns = [f.name for f in out_schema.fields]
        if event_mode:
            from pyspark.sql.types import LongType, StructField

            state_schema = StructType(
                state_schema.fields + [StructField("__lastEv__", LongType(), True)]
            )
        time_mode = {"none": "None", "process": "ProcessingTime", "event": "EventTime"}[
            timeout_mode
        ]

        class _FoldProcessor(StatefulProcessor):
            def init(self, handle):
                self._handle = handle
                self._vs = handle.getValueState("packed", state_schema)

            def _rearm(self, expiry_ms: int) -> None:
                # single-timer discipline: the engine keeps every
                # registered timestamp, so drop stale ones before arming
                for t in list(self._handle.listTimers()):
                    self._handle.deleteTimer(t)
                self._handle.registerTimer(expiry_ms)

            def handleInputRows(self, key, rows, timer_values):
                drop_zip_finders()
                pdf = pd.concat(list(rows), ignore_index=True)
                last_ev = None
                state = None
                if self._vs.exists():
                    packed = tuple(self._vs.get())
                    if event_mode:
                        last_ev, packed = packed[-1], packed[:-1]
                    state = unpack(packed)
                if event_mode:
                    ev = pdf[EVENT_TIME].dropna()
                    if len(ev):
                        mn_ms = pd.Timestamp(ev.min()).value // 1_000_000
                        mx_ms = pd.Timestamp(ev.max()).value // 1_000_000
                        if last_ev is not None and mn_ms - last_ev > horizon_ms:
                            # idle past the horizon: expired at access time
                            state, last_ev = None, None
                        last_ev = mx_ms if last_ev is None else max(last_ev, mx_ms)
                out, state = fold(sort_group(pdf), state)
                self._vs.update(
                    tuple(pack(state)) + ((last_ev,) if event_mode else ())
                )
                if process_mode:
                    self._rearm(
                        timer_values.getCurrentProcessingTimeInMs() + duration_ms
                    )
                elif event_mode:
                    wm = timer_values.getCurrentWatermarkInMs()
                    base_ts = wm if last_ev is None else last_ev
                    # armed at lastEvent+horizon so the timer NEVER fires
                    # before the key has truly been idle for the horizon
                    self._rearm(max(base_ts + horizon_ms, wm + 1))
                yield rows_to_pdf(out, columns)

            def handleExpiredTimer(self, key, timer_values, expired_timer_info):
                # timeout clears state; the key restarts from the initial
                # state on its next row (same contract as the default
                # backend's hasTimedOut branch)
                self._vs.clear()
                return iter([])

            def close(self):
                pass

        # when the fold's output carries the event-time column and the user
        # declared a watermark, the operator itself must re-declare the
        # output event-time column — a downstream withWatermark over a TWS
        # operator raises "Redefining watermark is disallowed"
        ev_out = (
            EVENT_TIME
            if (
                self.get("eventTimeCol")
                and self.get("watermarkDuration")
                and any(f.name == EVENT_TIME for f in out_schema.fields)
            )
            else ""
        )
        return keyed.groupBy(STATE_KEY).transformWithStateInPandas(
            statefulProcessor=_FoldProcessor(),
            outputStructType=out_schema,
            outputMode="Append",
            timeMode=time_mode,
            eventTimeColumnName=ev_out,
        )

    def _shapeOutput(self, df: DataFrame) -> DataFrame:
        """Reassemble the fold's output frame into the public schema."""
        return df
