package graft.index;

import com.sun.management.HotSpotDiagnosticMXBean;
import java.lang.management.ManagementFactory;
import jdk.incubator.vector.DoubleVector;
import jdk.incubator.vector.VectorShape;
import jdk.incubator.vector.VectorSpecies;
import org.slf4j.LoggerFactory;

/** The one distance kernel of graph build and serving: the f32 dot
  * product and squared L2 distance that {@link VamanaGraph} (build,
  * heap serving and the batch job path), {@link MmapIndex},
  * {@link U8Graph}'s fractional queries, the single-file export's
  * medoid and {@link VamanaIndex#pivotDist} routing evaluate. The
  * reference computes these with anndists' SIMD kernels (lib.rs:7-8);
  * a scalar loop that accumulates in double is not vectorized by
  * HotSpot (a floating-point reduction may not be reordered).
  *
  * With the JVM flags {@link #FLAGS}, each step widens one
  * vector of float lanes to doubles and accumulates each lane with a
  * fused multiply-add; squared L2 subtracts in double first. Products
  * of two floats are exact in double, so the result differs from the
  * scalar loop only by the summation order (lane partial sums, then
  * the lanes in order, then the tail). Float lanes would be no faster
  * and lose up to 1e-4 relative. Without either flag every call takes
  * the scalar loop, and one warning names the flags.
  *
  * Every caller goes through the same two methods with the same lane
  * order, so the heap graph, the mapped file and the job path compute
  * bit-identical distances and return identical lists.
  * {@link graft.functions.VectorExprs} and {@link Metric#eval} stay
  * scalar: the oracle compares their values with DuckDB's. */
public final class Distance {
  private Distance() {}

  /** The JVM flags the vector kernel needs: the module, and a compile
    * command that keeps {@link DistanceVector}'s loops out of their
    * callers. Inlined into a large caller (the fork-join pool's scan
    * loop), C2 failed to intrinsify a vector conversion in 4 of 10 JVMs
    * and the kernel ran 3x slower than the scalar loop; compiled on
    * their own, the loops were intrinsified in every JVM. */
  public static final String FLAGS = "--add-modules jdk.incubator.vector "
      + "-XX:CompileCommand=dontinline,graft.index.DistanceVector$::*";

  /** True when the vector kernel runs: both flags are in effect. Checked
    * once. */
  public static final boolean VECTORIZED =
      ModuleLayer.boot().findModule("jdk.incubator.vector").isPresent() && loopsNotInlined();

  /** The widest double vector the CPU runs (8 lanes with AVX-512), and
    * float vectors of the same lane count; null without the module.
    * Static finals, because the JIT compiles vector operations only over
    * constant species ({@link DistanceVector} reads them). */
  static final VectorSpecies<Double> D = VECTORIZED ? DoubleVector.SPECIES_PREFERRED : null;
  static final VectorSpecies<Float> F = VECTORIZED
      ? VectorSpecies.of(float.class, VectorShape.forBitSize(D.vectorBitSize() / 2)) : null;

  static {
    if (!VECTORIZED)
      LoggerFactory.getLogger("graft.Distance").warn(
          "the vector distance kernel is off: graph distances take the scalar loop, "
              + "about 3x slower; start the JVM with " + FLAGS);
  }

  private static boolean loopsNotInlined() {
    try {
      String commands = ManagementFactory.getPlatformMXBean(HotSpotDiagnosticMXBean.class)
          .getVMOption("CompileCommand").getValue();
      return commands.contains("dontinline") && commands.contains("DistanceVector");
    } catch (RuntimeException e) {
      return false; // not HotSpot: no compile commands
    }
  }

  /** Σ a(ao + i)·b(bo + i) over {@code dim} slots, in double. */
  public static double dot(float[] a, int ao, float[] b, int bo, int dim) {
    return VECTORIZED ? DistanceVector.dot(a, ao, b, bo, dim) : scalarDot(a, ao, b, bo, dim);
  }

  /** Σ (a(ao + i) − b(bo + i))² over {@code dim} slots, in double. */
  public static double l2sq(float[] a, int ao, float[] b, int bo, int dim) {
    return VECTORIZED ? DistanceVector.l2sq(a, ao, b, bo, dim) : scalarL2sq(a, ao, b, bo, dim);
  }

  /** The scalar dot: the fallback, and the reference the kernel is
    * checked against. */
  static double scalarDot(float[] a, int ao, float[] b, int bo, int dim) {
    double acc = 0.0;
    for (int i = 0; i < dim; i++) acc += (double) a[ao + i] * (double) b[bo + i];
    return acc;
  }

  /** The scalar squared L2, as {@link #scalarDot}. */
  static double scalarL2sq(float[] a, int ao, float[] b, int bo, int dim) {
    double acc = 0.0;
    for (int i = 0; i < dim; i++) {
      double d = (double) a[ao + i] - (double) b[bo + i];
      acc += d * d;
    }
    return acc;
  }
}
