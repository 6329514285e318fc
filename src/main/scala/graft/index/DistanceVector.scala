package graft.index

import jdk.incubator.vector.{DoubleVector, FloatVector, VectorOperators}

/** [[Distance]]'s vector loops, over its species `D` (double lanes)
  * and `F` (as many float lanes). Only [[Distance]] calls this object,
  * and only when its JVM flags are in effect, so a JVM without the
  * module never loads a vector class; one of those flags keeps these
  * methods from being inlined into their callers. The loops live in
  * Scala because sbt reads a compiled Java class's API by reflection,
  * and linking one that uses vector classes fails in a JVM without the
  * module. */
private[index] object DistanceVector {

  /** Lanes per step. */
  def lanes: Int = Distance.F.length()

  def dot(a: Array[Float], ao: Int, b: Array[Float], bo: Int, dim: Int): Double = {
    var acc = DoubleVector.zero(Distance.D)
    val step = Distance.F.length()
    val bound = Distance.F.loopBound(dim)
    var i = 0
    while (i < bound) {
      val x = FloatVector.fromArray(Distance.F, a, ao + i)
        .convertShape(VectorOperators.F2D, Distance.D, 0).asInstanceOf[DoubleVector]
      val y = FloatVector.fromArray(Distance.F, b, bo + i)
        .convertShape(VectorOperators.F2D, Distance.D, 0).asInstanceOf[DoubleVector]
      acc = x.fma(y, acc)
      i += step
    }
    var s = acc.reduceLanes(VectorOperators.ADD).doubleValue
    while (i < dim) { s += a(ao + i).toDouble * b(bo + i).toDouble; i += 1 }
    s
  }

  def l2sq(a: Array[Float], ao: Int, b: Array[Float], bo: Int, dim: Int): Double = {
    var acc = DoubleVector.zero(Distance.D)
    val step = Distance.F.length()
    val bound = Distance.F.loopBound(dim)
    var i = 0
    while (i < bound) {
      val x = FloatVector.fromArray(Distance.F, a, ao + i)
        .convertShape(VectorOperators.F2D, Distance.D, 0).asInstanceOf[DoubleVector]
      val y = FloatVector.fromArray(Distance.F, b, bo + i)
        .convertShape(VectorOperators.F2D, Distance.D, 0).asInstanceOf[DoubleVector]
      val d = x.sub(y)
      acc = d.fma(d, acc)
      i += step
    }
    var s = acc.reduceLanes(VectorOperators.ADD).doubleValue
    while (i < dim) { val d = a(ao + i).toDouble - b(bo + i).toDouble; s += d * d; i += 1 }
    s
  }
}
